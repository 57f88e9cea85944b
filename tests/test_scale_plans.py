"""Plan-shape regression tests for the scale-critical paths.

Round-2 verdict flagged two unpartitioned windows that would funnel one
row per TREE through a single task at 100x scale (`operators/engine.py`
`simple_rewrite`, `llm.py` `windowed_shuffle_df`).  These tests pin the
fixed plan shapes: an unpartitioned window may only ever run over a
vocab-bounded DISTINCT frame, never over a per-tree frame.
"""

import re

from pyspark.sql import functions as F


def _window_lines(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln for ln in plan.splitlines() if "Window [" in ln]


def _unpartitioned(lines):
    # Partitioned windows print three top-level bracket groups
    # (functions, partition spec, order spec); unpartitioned print two.
    return [ln for ln in lines if not re.search(r"\], \[[^\]]*\], \[", ln)]


def _forest(spark, n_trees=60):
    from architxt_spark.trees import forest_from_trees, parse_tree

    shapes = [
        "(ROOT (X (ENT::a v1) (ENT::b v2)))",
        "(ROOT (X (ENT::a v1) (ENT::c v2)))",
        "(ROOT (X (ENT::b v1) (ENT::c v2) (ENT::d v3)))",
    ]
    trees = {f"t{i:03d}": parse_tree(shapes[i % 3]) for i in range(n_trees)}
    return forest_from_trees(spark, trees)


def test_simple_rewrite_ranks_only_distinct_label_sets(spark):
    from architxt_spark.operators.engine import simple_rewrite

    nodes = _forest(spark)
    out = simple_rewrite(nodes)

    # Unpartitioned windows must only touch the distinct label_set frame,
    # never a per-tree frame.
    unpart = _unpartitioned(_window_lines(out))
    assert unpart, "expected the label_set dense_rank window to exist"
    for ln in unpart:
        assert "label_set" in ln, f"unexpected unpartitioned window: {ln}"
        assert "tree_id" not in ln, f"per-tree unpartitioned window: {ln}"

    # Semantics: dense ids per unique sorted entity-label set, stable
    # across trees sharing a set.
    groups = (
        out.filter(F.col("node_type") == "GROUP")
        .select("tree_id", F.col("node_name").alias("gid"))
        .collect()
    )
    by_tree = {r["tree_id"]: r["gid"] for r in groups}
    assert len(by_tree) == 60
    assert sorted(set(by_tree.values())) == ["1", "2", "3"]
    # same shape -> same id
    assert by_tree["t000"] == by_tree["t003"]
    assert by_tree["t001"] == by_tree["t004"]
    assert by_tree["t000"] != by_tree["t001"]


def test_windowed_shuffle_df_has_no_window_at_all(spark):
    from architxt_spark.llm import windowed_shuffle_df

    nodes = _forest(spark, n_trees=40)
    shuffled = windowed_shuffle_df(nodes, window_size=5, seed=3)
    assert _window_lines(shuffled) == []
    assert shuffled.count() == nodes.count()
    # deterministic for a fixed seed
    a = [r["tree_id"] for r in shuffled.select("tree_id").distinct().collect()]
    b = [
        r["tree_id"]
        for r in windowed_shuffle_df(nodes, window_size=5, seed=3)
        .select("tree_id")
        .distinct()
        .collect()
    ]
    assert sorted(a) == sorted(b)


def _emb_frame(spark, n=40, dim=8):
    import hashlib

    rows = []
    for i in range(n):
        vec = []
        for j in range(dim):
            h = hashlib.md5(f"{i}:{j}".encode()).digest()[0]
            vec.append((h - 127.5) / 127.5)
        rows.append((i, vec))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_ann_topk_finalization_is_two_phase(spark):
    """Round-4 verdict: the per-query row_number window over the UNREDUCED
    candidate frame was the last one-task O(corpus) sort.  Pin the fixed
    shape for all four ANN variants: a salted partial window
    (query_id, __salt) feeds a __prank filter, and only then does a
    query_id-only window rank the ~n_salts*k survivors — so the TOPMOST
    window in every plan must be that bounded finalizer."""
    from architxt_spark.functions.ann import brute_force_topk, ivf_topk, lsh_topk, pq_topk

    emb = _emb_frame(spark)
    q = emb.filter(F.col("vec_id") < 3)
    frames = {
        "brute": brute_force_topk(emb, q, k=3),
        "lsh": lsh_topk(emb, q, dim=8, k=3),
        "ivf": ivf_topk(emb, q, k=3, n_cells=4, nprobe=2),
        "pq": pq_topk(emb, q, dim=8, m=4, ksub=4, k=3),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        win_idx = [i for i, ln in enumerate(lines) if "Window [" in ln]
        salted = [i for i in win_idx if "__salt" in lines[i]]
        assert salted, f"{name}: partial (query_id, __salt) top-k phase missing"
        # plans print top-down: the first window is the final rank()
        top = win_idx[0]
        assert "__salt" not in lines[top], f"{name}: topmost window should be the finalizer"
        prank_filters = [
            i for i, ln in enumerate(lines) if "Filter" in ln and "__prank" in ln
        ]
        assert any(
            top < i < salted[0] for i in prank_filters
        ), f"{name}: finalizer window must consume the __prank-reduced frame"

    # identical results to a single global window (total order => lossless)
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id) for r in frames["brute"].collect()
    )
    import math

    rows = _emb_frame(spark).collect()
    vecs = {r.vec_id: r.embedding for r in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    expect = []
    for qid in range(3):
        sims = sorted(
            ((-cos(vecs[qid], v), nid) for nid, v in vecs.items() if nid != qid),
        )[:3]
        expect += [(qid, r + 1, nid) for r, (_, nid) in enumerate(sims)]
    assert got == sorted(expect)


def test_dedup_filter_restricts_minhash_to_exact_reps(spark):
    """Round-6 hot-band fix: dedup_filter's minhash pipeline must read
    the exact-duplicate representatives only, and the band self-join must
    sit above the band-DF anti-join (the max_band_df cap).  The signature
    frame lands behind a stage barrier, which hides the representative
    semi-join from the returned plan, so the restriction is pinned on the
    landed frame itself: one signature per exact-duplicate group, keyed
    by its min id."""
    from architxt_spark.functions.dedup import dedup_filter

    rows = [(i, f"some document body with words number {i % 5} repeated") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig_out: list = []
    out = dedup_filter(df, "text", "doc_id", signatures_out=sig_out)
    reps = sorted(r.id for r in sig_out[0].select("id").collect())
    assert reps == [0, 1, 2, 3, 4], "exact-representative restriction missing"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the band cap's anti-join (heavy bands excluded before pairing)
    assert "LeftAnti" in plan


def test_minhash_band_cap_is_anti_join_not_cartesian(spark):
    from architxt_spark.functions.dedup import _signature_frame, minhash_lsh_pairs

    rows = [(i, f"document number {i} content body here") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # with the caller's signature frame the pair frame stays lazy, so its
    # plan is inspectable (signatures built inside are materialized behind
    # a stage barrier and released)
    sig = _signature_frame(df, "text", "doc_id")
    out = minhash_lsh_pairs(df, "text", "doc_id", max_band_df=100, signatures=sig)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan  # heavy-band exclusion


def test_c4_clean_is_scan_side_projection(spark):
    """The C4 registry query plan has NO Exchange anywhere — line split,
    rule filter, page gate, and fingerprint are one scan-side projection
    (the shape that composes below every shuffle-bearing stage)."""
    import __spark_entry__ as entry

    out = entry.q_c4_clean(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_corpus_sink_cluster_by_uses_range_partitioning(spark, tmp_path):
    """cluster_by's layout shuffle is RANGE partitioning on the partition
    + cluster columns (the precondition for disjoint row-group stats),
    never a global single-partition sort."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    placed = docs.repartitionByRange(
        F.col("lang"), F.col("n_chars")
    ).sortWithinPartitions("lang", "n_chars")
    plan = placed._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan


def test_explode_over_shingle_chain_has_no_inferred_filter(spark):
    """The shingle and winnow explodes carry no scratch cache; they rely on
    the session profile excluding ``InferFiltersFromGenerate``.  With the
    rule on, the optimized plan grows a ``Filter (size(...) > 0)`` that
    evaluates the interpreted token/shingle chain a second time."""
    from architxt_spark.functions.dedup import _shingle_rows, _winnow_rows

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "")],
        "doc_id long, text string",
    )
    for frame in (
        _shingle_rows(df, "text", "doc_id"),
        _winnow_rows(df, "text", "doc_id", 3, 4),
    ):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert "Generate explode" in plan, plan
        filters = [ln for ln in plan.splitlines() if "Filter" in ln and "size(" in ln]
        assert filters == [], plan


def test_llm_rewrite_runs_at_session_width(spark):
    """llm_rewrite groups trees through ``session.tree_buckets``, whose
    pinned-width exchange AQE cannot coalesce: a small forest still
    reaches the per-bucket LLM pass at the session's width."""
    from architxt_spark.llm import llm_rewrite

    nodes = _forest(spark, n_trees=200)
    out = llm_rewrite(nodes)
    assert len(out.collect()) == nodes.count()  # executes out's own plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both sections
    assert "FlatMapGroupsInPandas" in final, plan
    assert "coalesced" not in final, plan
