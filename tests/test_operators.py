"""Rewrite-operation tests — goldens from the reference suite
(``tests/simplification/tree_rewriting/operations/test_*.py``)."""

import pytest

from architxt_spark.operators.pytree_ops import (
    find_collections,
    find_relations,
    has_duplicate_entity,
    reduce_all,
    reduce_bottom,
    reduce_top,
)
from architxt_spark.trees import format_tree, parse_tree


def run(op, s, **kw):
    t = parse_tree(s)
    changed = op(t, **kw)
    return changed, format_tree(t)


# --- reduce (tree.py doctests + test_reduce.py) ---

def test_reduce_all_doctest():
    changed, s = run(reduce_all, "(S (X (Y (Z (NP Alice)))) (VP (VB likes) (NP (NNS apples))))")
    assert changed and s == "(S Alice (VP likes apples))"


def test_reduce_all_skip_types():
    changed, s = run(reduce_all, "(S (X (ENT::a aaa)))", skip_types={"ENT"})
    assert changed and s == "(S (ENT::a aaa))"


def test_reduce_bottom_simple():
    changed, s = run(reduce_bottom, "(SENT (1 (2 (ENT::A aaa) (ENT::B bbb))))")
    assert changed and s == "(SENT (1 (ENT::A aaa) (ENT::B bbb)))"


def test_reduce_bottom_nested():
    changed, s = run(reduce_bottom, "(SENT (1 (2 (ENT::A aaa) (ENT::B bbb)) (3 (ENT::C ccc))))")
    assert changed and s == "(SENT (1 (ENT::A aaa) (ENT::B bbb) (ENT::C ccc)))"


def test_reduce_bottom_no_reduction():
    changed, s = run(reduce_bottom, "(SENT (ENT::A aaa) (ENT::B bbb))")
    assert not changed and s == "(SENT (ENT::A aaa) (ENT::B bbb))"


def test_reduce_top_simple():
    changed, s = run(reduce_top, "(SENT (1 (2 (ENT::A aaa) (ENT::B bbb))))")
    assert changed and s == "(SENT (2 (ENT::A aaa) (ENT::B bbb)))"


# --- collections (test_find_collections.py) ---

def test_find_collections_simple():
    changed, s = run(find_collections, "(SENT (GROUP::A x) (GROUP::A y))")
    assert changed and s == "(COLL::A (GROUP::A x) (GROUP::A y))"


def test_find_collections_multi():
    changed, s = run(
        find_collections,
        "(SENT (GROUP::A 1) (GROUP::A 2) (GROUP::B 3) (GROUP::B 4) (GROUP::A 5) (ENT 6) (GROUP::C 7) (GROUP::C 8))",
    )
    assert changed
    assert s == (
        "(SENT (COLL::A (GROUP::A 1) (GROUP::A 2) (GROUP::A 5)) (COLL::B (GROUP::B 3) (GROUP::B 4))"
        " (ENT 6) (COLL::C (GROUP::C 7) (GROUP::C 8)))"
    )


def test_find_collections_merge():
    changed, s = run(
        find_collections,
        "(SENT (GROUP::A 1) (COLL::A (GROUP::A 2) (GROUP::A 3)) (GROUP::A 4) (COLL::A (GROUP::A 5) (GROUP::A 6)))",
    )
    assert changed
    assert s == "(COLL::A (GROUP::A 1) (GROUP::A 2) (GROUP::A 3) (GROUP::A 4) (GROUP::A 5) (GROUP::A 6))"


def test_find_collections_naming_only():
    changed, s = run(find_collections, "(SENT (GROUP::A x) (GROUP::A y))", naming_only=True)
    assert changed and s == "(COLL::A (GROUP::A x) (GROUP::A y))"
    changed, s = run(find_collections, "(SENT (GROUP::A x) (GROUP::A y) (GROUP::B z))", naming_only=True)
    assert not changed and s == "(SENT (GROUP::A x) (GROUP::A y) (GROUP::B z))"


# --- relations (test_find_relations.py) ---

def test_find_relations_simple():
    changed, s = run(find_relations, "(SENT (GROUP::A x) (GROUP::B y))")
    assert changed and s == "(REL::A<->B (GROUP::A x) (GROUP::B y))"


def test_find_relations_collection():
    changed, s = run(find_relations, "(SENT (GROUP::A x) (COLL::B (GROUP::B 1) (GROUP::B 2)))")
    assert changed
    assert s == "(SENT (REL::A<->B (GROUP::A x) (GROUP::B 1)) (REL::A<->B (GROUP::A x) (GROUP::B 2)))"


def test_find_relations_collection_distinct_group_copies():
    """Each distributed REL must carry its OWN deep copy of the GROUP
    (reference ``relations.py:112`` ``group.copy()``) with cleared oids —
    a shared PyTree emits duplicate node_id rows through tree_to_rows and
    corrupts the rebuilt node table."""
    from architxt_spark.trees import PyTree, parse_tree, tree_to_rows, rows_to_trees, format_tree

    t = parse_tree("(SENT (GROUP::A (ENT::x v)) (COLL::B (GROUP::B (ENT::y 1)) (GROUP::B (ENT::y 2))))")
    # give every node an oid, as engine trees from rows_to_trees carry
    stack = [t]
    i = 0
    while stack:
        n = stack.pop()
        n.oid = f"oid{i}"
        i += 1
        stack.extend(c for c in n.children if isinstance(c, PyTree))
    assert find_relations(t)
    groups = [
        rel.children[0] if rel.children[0].node_name == "A" else rel.children[1]
        for rel in t.children
    ]
    assert groups[0] is not groups[1]
    rows = tree_to_rows(t, "t0")
    ids = [r["node_id"] for r in rows]
    assert len(ids) == len(set(ids)), "duplicate node_id rows from shared GROUP copy"
    rebuilt = rows_to_trees(rows)["t0"]
    assert format_tree(rebuilt) == format_tree(t)


def test_find_relations_collection_same_group():
    changed, s = run(find_relations, "(SENT (GROUP::A x) (COLL::A (GROUP::A 1) (GROUP::A 2)))")
    assert not changed and s == "(SENT (GROUP::A x) (COLL::A (GROUP::A 1) (GROUP::A 2)))"


def test_find_relations_naming_only():
    changed, s = run(find_relations, "(SENT (GROUP::A x) (GROUP::B y))", naming_only=True)
    assert changed and s == "(REL::A<->B (GROUP::A x) (GROUP::B y))"
    changed, s = run(
        find_relations, "(SENT (GROUP::A x) (COLL::B (GROUP::B 1) (GROUP::B 2)))", naming_only=True
    )
    assert not changed


def test_has_duplicate_entity():
    assert has_duplicate_entity(parse_tree("(G (ENT::a 1) (ENT::a 2))"))
    assert not has_duplicate_entity(parse_tree("(G (ENT::a 1) (ENT::b 2))"))


# --- metrics helpers from similarity ---

def test_similarity_metrics():
    from architxt_spark.similarity import context_similarity, jaccard, jaro_winkler, levenshtein_ratio

    assert jaccard({"a", "b"}, {"b", "c"}) == pytest.approx(1 / 3)
    assert jaccard(set(), set()) == 1.0  # reference doctest: identical empties
    # Levenshtein.ratio parity (indel, subs cost 2): LCS(kitten,sitting)=4
    assert levenshtein_ratio("kitten", "sitting") == pytest.approx(8 / 13)
    assert levenshtein_ratio(["a", "b"], ["a", "c"]) == pytest.approx(0.5)
    assert jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-3)
    # rapidfuzz convention: no prefix boost at or below jaro 0.7
    assert jaro_winkler("aXXXX", "aYYYY") == pytest.approx(7 / 15)
    # sequence form: labels are symbols, not joined characters
    assert jaro_winkler(["m", "ar"], ["m", "ar"]) == 1.0
    a = [frozenset({"x", "y"}), frozenset({"p"})]
    b = [frozenset({"x", "y"}), frozenset({"p"})]
    assert context_similarity(a, b) == pytest.approx(1.0)
    assert context_similarity([frozenset({"x"})], [frozenset({"z"})]) == 0.0


# --- combinatorial group search (operations/groups.py golden cases) ---

def test_find_subgroups_wraps_best_combination():
    from architxt_spark.operators.pytree_ops import find_subgroups
    from architxt_spark.trees import format_tree, parse_tree

    t = parse_tree("(X (ENT::a 1) (ENT::b 2) (ENT::c 3) (ENT::d 4))")
    index = {
        frozenset({"a", "b"}): ("ab", 50),
        frozenset({"a", "b", "c"}): ("abc", 10),
        frozenset({"a", "b", "c", "d"}): ("all", 3),
    }
    assert find_subgroups(t, index, min_support=2)
    # k descends from the largest: abc (support 10 > current 3) wins over ab
    assert format_tree(t) == "(X (GROUP::abc (ENT::a 1) (ENT::b 2) (ENT::c 3)) (ENT::d 4))"


def test_find_subgroups_no_improvement_is_noop():
    from architxt_spark.operators.pytree_ops import find_subgroups
    from architxt_spark.trees import format_tree, parse_tree

    t = parse_tree("(X (ENT::a 1) (ENT::b 2) (ENT::c 3))")
    index = {frozenset({"a", "b", "c"}): ("whole", 100), frozenset({"a", "b"}): ("ab", 5)}
    assert not find_subgroups(t, index, min_support=2)
    assert format_tree(t) == "(X (ENT::a 1) (ENT::b 2) (ENT::c 3))"


def test_merge_groups_merges_when_supported():
    from architxt_spark.operators.pytree_ops import merge_groups
    from architxt_spark.trees import format_tree, parse_tree

    t = parse_tree("(X (GROUP::g1 (ENT::a 1) (ENT::b 2)) (ENT::c 3))")
    index = {
        frozenset({"a", "b"}): ("g1", 5),
        frozenset({"c"}): ("c", 4),
        frozenset({"a", "b", "c"}): ("merged", 9),
    }
    assert merge_groups(t, index, min_support=2)
    assert format_tree(t) == "(X (GROUP::merged (ENT::a 1) (ENT::b 2) (ENT::c 3)))"


def test_merge_groups_refuses_weaker_merge():
    from architxt_spark.operators.pytree_ops import merge_groups
    from architxt_spark.trees import format_tree, parse_tree

    t = parse_tree("(X (GROUP::g1 (ENT::a 1) (ENT::b 2)) (ENT::c 3))")
    index = {
        frozenset({"a", "b"}): ("g1", 20),
        frozenset({"a", "b", "c"}): ("merged", 9),  # < member support 20
    }
    assert not merge_groups(t, index, min_support=2)
    assert "GROUP::g1" in format_tree(t)


def test_simplify_names(spark):
    from architxt_spark.operators.engine import simplify_names
    from architxt_spark.trees import forest_from_trees, parse_tree, rows_to_trees, format_tree

    trees = {
        "t1": parse_tree(
            "(ROOT (REL::r0 (GROUP::person_1 (ENT::a x)) (GROUP::city_7 (ENT::b y))))"
        ),
        # person_2 has a DIFFERENT entity set but the same base → numbered
        "t2": parse_tree("(ROOT (GROUP::person_2 (ENT::c z)))"),
        "t3": parse_tree("(ROOT (COLL::c0 (GROUP::city_7 (ENT::b y))))"),
    }
    out = simplify_names(forest_from_trees(spark, trees))
    rendered = {
        tid: format_tree(t)
        for tid, t in rows_to_trees([r.asDict() for r in out.collect()]).items()
    }
    assert rendered["t1"] == "(ROOT (REL::city<->person (GROUP::person (ENT::a x)) (GROUP::city (ENT::b y))))"
    assert rendered["t2"] == "(ROOT (GROUP::person_1 (ENT::c z)))"
    assert rendered["t3"] == "(ROOT (COLL::city (GROUP::city (ENT::b y))))"


def test_simplify_names_repeated_suffix_and_numeric(spark):
    """``_get_base_name`` parity: repeated ``_<digits>`` suffixes strip in
    one pass and all-digit base names fall back to 'UndefinedGroup'."""
    from architxt_spark.operators.engine import simplify_names
    from architxt_spark.trees import forest_from_trees, parse_tree, rows_to_trees, format_tree

    trees = {
        "t1": parse_tree("(ROOT (GROUP::Territories_1_5_2 (ENT::a x)))"),
        "t2": parse_tree("(ROOT (GROUP::7 (ENT::b y)))"),
        "t3": parse_tree("(ROOT (GROUP::12_3 (ENT::c z)))"),
    }
    out = simplify_names(forest_from_trees(spark, trees))
    rendered = {
        tid: format_tree(t)
        for tid, t in rows_to_trees([r.asDict() for r in out.collect()]).items()
    }
    assert rendered["t1"] == "(ROOT (GROUP::Territories (ENT::a x)))"
    # both numeric names share the UndefinedGroup base → deterministic
    # numbering by sorted original name ("12_3" < "7" lexicographically)
    assert rendered["t3"] == "(ROOT (GROUP::UndefinedGroup (ENT::c z)))"
    assert rendered["t2"] == "(ROOT (GROUP::UndefinedGroup_1 (ENT::b y)))"


def test_salted_join_matches_plain_join(spark):
    from architxt_spark.operators.skew import salted_join
    from pyspark.sql import functions as F

    # skewed left: 10k rows on one key, a few on others
    left = spark.range(10000).select(
        F.lit("hot").alias("k"), F.col("id").alias("lv")
    ).unionByName(
        spark.range(10).select(F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("lv"))
    )
    right = spark.createDataFrame(
        [("hot", 1), ("k1", 2), ("k5", 3)], "k string, rv int"
    )
    plain = left.join(right, "k").select("k", "lv", "rv")
    salted = salted_join(left, right, "k", n_salts=8, salt_by="lv").select("k", "lv", "rv")
    assert salted.count() == plain.count() == 10002
    assert salted.exceptAll(plain).count() == 0 and plain.exceptAll(salted).count() == 0


def test_assign_to_clusters(spark):
    from architxt_spark.similarity import assign_to_clusters
    from architxt_spark.trees import forest_from_trees, parse_tree

    index = {
        frozenset({"a", "b"}): ("ab_cluster", 40),
        frozenset({"x", "y", "z"}): ("xyz_cluster", 10),
    }
    trees = {
        "exact": parse_tree("(T (ENT::a 1) (ENT::b 2))"),
        "close": parse_tree("(T (ENT::a 1) (ENT::b 2) (ENT::c 3))"),
        "far": parse_tree("(T (ENT::q 1))"),
    }
    nodes = forest_from_trees(spark, trees)
    out = assign_to_clusters(nodes, index, tau=0.6)
    got = {r["node_id"]: (r["cluster_name"], r["score"]) for r in out.collect()}
    exact = [v for k, v in got.items() if k.startswith("exact")]
    close = [v for k, v in got.items() if k.startswith("close")]
    far = [v for k, v in got.items() if k.startswith("far")]
    assert ("ab_cluster", 1.0) in exact
    assert any(name == "ab_cluster" and s < 1.0 for name, s in close)
    assert not far  # disjoint/below-tau signatures stay unassigned


def test_assign_to_clusters_metrics_match_python(spark):
    """The vectorized (broadcast-join) scoring must reproduce the Python
    metric functions exactly, per metric, including the tie-break to the
    smallest index signature."""
    from architxt_spark.similarity import METRIC_FUNCS, assign_to_clusters
    from architxt_spark.trees import forest_from_trees, parse_tree

    index = {
        frozenset({"a", "b", "c"}): ("abc", 5),
        frozenset({"a", "b", "d"}): ("abd", 5),  # ties with abc vs {a,b}
        frozenset({"p", "q"}): ("pq", 2),
    }
    trees = {
        "t1": parse_tree("(T (ENT::a 1) (ENT::b 2))"),
        "t2": parse_tree("(T (ENT::p 1) (ENT::q 2) (ENT::a 3))"),
    }
    nodes = forest_from_trees(spark, trees)
    for metric in ("jaccard", "levenshtein", "jaro"):
        got = {
            r["node_id"]: (r["cluster_name"], r["score"])
            for r in assign_to_clusters(nodes, index, tau=0.3, metric=metric).collect()
        }
        fn = METRIC_FUNCS[metric]
        for sig_ents in ({"a", "b"}, {"p", "q", "a"}):
            best = None
            for fs, (name, _s) in sorted(index.items(), key=lambda kv: sorted(kv[0])):
                if fs == frozenset(sig_ents):
                    best = (1.0, name)
                    break
                if not (sig_ents & fs):
                    continue
                score = fn(sig_ents, fs)
                if score >= 0.3 and (best is None or score > best[0]):
                    best = (score, name)
            matching = [
                v for k, v in got.items()
                if ("t1" in k) == (sig_ents == {"a", "b"})
            ]
            if best is None:
                assert not matching
            else:
                assert matching, f"{metric}: expected a match for {sig_ents}"
                name, score = matching[0]
                assert name == best[1], (metric, sig_ents)
                assert abs(score - round(best[0], 6)) < 1e-9, (metric, sig_ents)


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Both sides bucketed by the join key with equal counts -> the join
    plan has no shuffle Exchange (the 100-TB co-location strategy)."""
    from architxt_spark.operators.bucketing import is_exchange_free_join, write_bucketed

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/bkt'")
    try:
        a = spark.range(1000).withColumnRenamed("id", "k")
        b = spark.range(500).withColumnRenamed("id", "k")
        write_bucketed(a, "bkt.a", ["k"], n_buckets=8, sort_cols=["k"])
        write_bucketed(b, "bkt.b", ["k"], n_buckets=8, sort_cols=["k"])
        # merge hint on both: comparing SMJ-with-buckets vs SMJ-without,
        # not SMJ vs broadcast (broadcast has no exchange trivially)
        joined = spark.table("bkt.a").hint("merge").join(spark.table("bkt.b"), "k")
        assert joined.count() == 500
        assert is_exchange_free_join(joined)
        # control: the same SMJ on non-bucketed frames DOES shuffle
        plain = a.hint("merge").join(b, "k")
        plain.count()
        assert not is_exchange_free_join(plain)
    finally:
        spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")


def test_rewrite_iteration_metrics(spark):
    """on_iteration receives the per-iteration census (reference MLflow
    logging parity)."""
    from architxt_spark.operators.engine import rewrite
    from architxt_spark.trees import PyTree, forest_from_trees

    trees = {
        f"t{i}": PyTree(
            "ROOT",
            [PyTree("X", [PyTree("ENT::a", ["v"]), PyTree("ENT::b", ["w"])])],
        )
        for i in range(4)
    }
    log: list[dict] = []
    rewrite(forest_from_trees(spark, trees), epoch=3, on_iteration=log.append)
    assert log, "callback never fired"
    assert {"iteration", "operation", "trees_changed", "n_nodes", "n_group"} <= set(log[0])
    assert log[0]["iteration"] == 0


def test_rewrite_callback_observes_the_uncalled_loop(spark):
    """Installing ``on_iteration`` leaves the result unchanged, and its
    census sees each iteration's find_groups conversions and chain effects
    (the loop itself defers that chain into the next pass)."""
    from test_resource_pins import _forest

    from architxt_spark.operators.engine import rewrite

    forest = _forest(spark)
    log: list[dict] = []
    with_cb = rewrite(forest, on_iteration=log.append).collect()
    without = rewrite(forest).collect()
    assert sorted(map(repr, with_cb)) == sorted(map(repr, without))
    assert len(with_cb) == 390

    census = ("operation", "trees_changed", "n_nodes", "n_ent", "n_group",
              "n_coll", "n_rel", "n_distinct_group", "n_distinct_coll",
              "n_unlabeled")
    assert [tuple(e[k] for k in census) for e in log] == [
        ("merge_groups", 20, 390, 148, 54, 0, 0, 1, 0, 0),
        ("find_collections", 14, 390, 148, 54, 14, 0, 1, 1, 0),
        (None, 0, 390, 148, 54, 14, 0, 1, 1, 0),
    ]


def test_cluster_driver_collect_is_aggregate_bounded(spark):
    """The clustering driver step must collect (signature, node_name, count)
    aggregate rows — bounded by the signature × name vocabulary — never a
    per-member list (one hot signature at scale would OOM the driver).
    Many trees sharing ONE signature must reach the driver as ONE row per
    (signature, name), and clustering must still work."""
    from architxt_spark.similarity import cluster_forest_with_index
    from architxt_spark.trees import forest_from_trees, parse_tree

    trees = {
        f"t{i}": parse_tree("(ROOT (GROUP::person (ENT::name x) (ENT::age 1)))")
        for i in range(200)
    }
    nodes = forest_from_trees(spark, trees)
    out, index = cluster_forest_with_index(nodes)
    # sanity: the hot signature clustered with full support (ROOT and
    # GROUP both produce the {name, age} signature → 2 candidates/tree)
    sig = frozenset({"name", "age"})
    assert sig in index and index[sig][1] == 400
    # the driver-side frame is the aggregate: its row count equals the
    # distinct (signature, node_name) pairs, NOT the member count
    from architxt_spark.similarity import candidate_subtrees

    cands = candidate_subtrees(nodes)
    agg_rows = cands.groupBy("signature", "node_name").count().count()
    assert agg_rows < 10  # vocab-bounded
    assert out.count() >= 200


def test_find_groups_in_tree_matches_join_version(spark):
    """The fused per-tree find_groups (similarity.find_groups_in_tree)
    must relabel exactly the nodes the DataFrame join version converts —
    the equivalence the r10 engine fusion rests on."""
    from architxt_spark.operators.engine import find_groups
    from architxt_spark.similarity import (
        cluster_forest_with_index,
        find_groups_in_tree,
        signature_index,
    )
    from architxt_spark.trees import forest_from_trees, parse_tree, rows_to_trees

    trees = {}
    for i in range(12):
        # frequent all-ENT subtree (eligible), an unlabelled wrapper with
        # a non-ENT child (ineligible: n_children != n_ent), and a parent
        # that is already a GROUP (children ineligible via parent check)
        trees[f"a{i}"] = parse_tree(
            "(ROOT (X (ENT::name n) (ENT::age 1)) (Y (ENT::city c) (Z leaf)))"
        )
        trees[f"b{i}"] = parse_tree(
            "(ROOT (GROUP::g (X2 (ENT::name n) (ENT::age 2))))"
        )
    nodes = forest_from_trees(spark, trees)
    min_support = 3

    assignments, _ = cluster_forest_with_index(nodes)
    join_out = find_groups(nodes, assignments, min_support)
    idx = signature_index(nodes)
    assert idx  # same index contents the join version derives

    expected = {
        r["node_id"]: (r["node_type"], r["node_name"])
        for r in join_out.collect()
    }
    fused = rows_to_trees([r.asDict(recursive=True) for r in nodes.collect()])
    for tid, tree in fused.items():
        find_groups_in_tree(tree, idx, min_support)

        def check(node):
            assert expected[node.oid] == (node.node_type, node.node_name), node.oid
            for c in node.children:
                if not isinstance(c, str):
                    check(c)

        check(tree)
    # sanity: the fixture actually CONVERTS something (a node that was not
    # a GROUP in the input became one), so the parity check is not vacuous
    before = {
        r["node_id"]: r["node_type"] for r in nodes.collect()
    }
    assert any(
        t == "GROUP" and before[nid] != "GROUP" for nid, (t, _) in expected.items()
    )


def test_dedup_leaves_session_conf_unchanged(spark):
    """Dedup must not mutate session-global optimizer conf (an earlier
    revision set spark.sql.optimizer.excludedRules as a side effect,
    changing every other query's plans)."""
    from architxt_spark.functions import dedup as D

    before = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "entirely different text about spark optimizers")],
        "doc_id long, text string",
    )
    D.minhash_lsh_pairs(docs, "text", "doc_id").count()
    D.exact_duplicates(docs, "text", "doc_id").count()
    # the node-emitting loaders must not mutate foreign sessions either
    from architxt_spark.sources.documents import row_trees

    row_trees(docs.select("doc_id"), "documents", ["doc_id"]).count()
    assert spark.conf.get("spark.sql.optimizer.excludedRules", None) == before


def test_asof_join_forward_and_tolerance(spark):
    """Forward direction picks the earliest right at-or-after each left ts;
    tolerance nulls matches beyond the window; exact-ts rights match in
    both directions."""
    from architxt_spark.operators.temporal import asof_join
    import pytest

    left = spark.createDataFrame(
        [("u", "l1", 100.0), ("u", "l2", 250.0), ("u", "l3", 900.0)],
        "user string, lid string, ts double",
    )
    right = spark.createDataFrame(
        [("u", "r1", 100.0), ("u", "r2", 300.0)],
        "user string, rid string, ts double",
    )
    fwd = {
        r["lid"]: r["rid_right"]
        for r in asof_join(
            left, right, by=["user"], right_cols=["rid"], direction="forward"
        ).collect()
    }
    assert fwd == {"l1": "r1", "l2": "r2", "l3": None}

    tol = {
        r["lid"]: r["rid_right"]
        for r in asof_join(
            left, right, by=["user"], right_cols=["rid"],
            direction="forward", tolerance_seconds=40,
        ).collect()
    }
    assert tol == {"l1": "r1", "l2": None, "l3": None}  # 250->300 gap is 50 > 40

    back = {
        r["lid"]: r["rid_right"]
        for r in asof_join(
            left, right, by=["user"], right_cols=["rid"], direction="backward"
        ).collect()
    }
    assert back == {"l1": "r1", "l2": "r1", "l3": "r2"}

    with pytest.raises(ValueError):
        asof_join(left, right, by=["user"], direction="nearest")


def test_asof_join_duplicate_ts_tie_break_deterministic(spark):
    """Several right rows sharing the same (key, ts) must resolve to the
    SMALLEST payload (matching the oracle's ORDER BY ts, id tie-break),
    not an engine-dependent pick — in both directions."""
    from architxt_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("u", "l1", 200.0)], "user string, lid string, ts double"
    )
    right = spark.createDataFrame(
        [("u", "rB", 100.0), ("u", "rA", 100.0), ("u", "rD", 300.0), ("u", "rC", 300.0)],
        "user string, rid string, ts double",
    ).repartition(4)  # spread ties across partitions to tempt nondeterminism
    back = asof_join(
        left, right, by=["user"], right_cols=["rid"], direction="backward"
    ).collect()
    assert [r["rid_right"] for r in back] == ["rA"]
    fwd = asof_join(
        left, right, by=["user"], right_cols=["rid"], direction="forward"
    ).collect()
    assert [r["rid_right"] for r in fwd] == ["rC"]


def test_rewrite_accepts_one_shot_operations_iterable(spark):
    """A generator passed as `operations` must behave like a list across
    iterations (the loop materializes it once) — every epoch still sees
    the ops, counted via call tracking."""
    from architxt_spark.operators.engine import rewrite
    from architxt_spark.trees import PyTree, forest_from_trees

    trees = {
        f"t{i}": PyTree(
            "ROOT",
            [PyTree("X", [PyTree("ENT::a", ["v"]), PyTree("ENT::b", ["w"])])],
        )
        for i in range(3)
    }
    calls: list[int] = []

    def noop(t, _c=calls):
        return False

    log: list[dict] = []
    gen = (op for op in [("noop", noop)])
    rewrite(forest_from_trees(spark, trees), epoch=2, operations=gen, on_iteration=log.append)
    # with a one-shot iterable un-materialized, iteration 2 would see zero
    # ops; the callback must record the op name in EVERY iteration
    assert [e["params"]["edit_ops"] for e in log] == ["noop"] * len(log)
