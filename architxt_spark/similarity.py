"""Similarity metrics and subtree clustering.

Reference: ``architxt/similarity.py``.

- metrics ``jaccard`` / ``levenshtein`` / ``jaro`` over entity-label sets
  (``similarity.py:44-77``): the reference compares SORTED LABEL
  SEQUENCES with ``Levenshtein.ratio`` (indel ratio, 2·LCS/(|a|+|b|))
  and ``Levenshtein.jaro_winkler`` (prefix boost only above the 0.7
  Jaro threshold — the rapidfuzz convention); r14 restores both
  conventions exactly (earlier rounds joined labels into strings and
  boosted unconditionally);
- context-weighted similarity: decay-weighted mean of metric over ancestor
  label sets up to depth 5 (``similarity.py:92-168``, ``MAX_SIM_CTX_DEPTH=5``,
  ``DECAY=2``);
- ``TreeClusterer.fit``: candidate subtrees (height ≤ 5, not ENT, no
  duplicate entities) clustered on the **O(n²)** condensed distance matrix
  with HDBSCAN (``similarity.py:200-368,463-491``).

Spark re-design — the single most important scalability change: the O(n²)
matrix is replaced by **signature clustering + MinHash-LSH banding**:

1. candidates are reduced to their entity-label-set *signature*; support is
   a ``groupBy(signature).count()`` — membership is an equi-join.  This is
   exactly the reference's own ``schema_only`` cheap mode
   (``similarity.py:296-310``), which clusters distinct label-set
   signatures instead of instances;
2. similar-but-not-equal signatures are merged by clustering the DISTINCT
   signature set: all-pairs when small, MinHash-LSH banded candidate pairs
   (md5-based permutations, so deterministic across runs and engines) when
   large, refined with the exact metric ≥ τ, then union-find connected
   components.  Distinct signatures are bounded by the label vocabulary,
   not the corpus, so the driver-side union-find is tiny even at 100 TB;
3. cluster naming: the modal member label (``similarity.py:340-352``).

sklearn/HDBSCAN is unavailable (and nondeterministic — the reference
jitters zero distances, ``similarity.py:317-323``); connected components at
τ is the deterministic, distributed-friendly analogue.  Oracle tests
compare schema-quality metrics, not exact cluster ids (SURVEY §7.4).
"""

from __future__ import annotations

import hashlib
from collections import Counter
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from architxt_spark.model import NodeType
from architxt_spark.session import held, stage_barrier, tree_buckets
from architxt_spark.trees import PyTree, rows_to_trees

MAX_SIM_CTX_DEPTH = 5
DECAY = 2
DEFAULT_MAX_HEIGHT = 5
#: all-pairs threshold before switching to LSH banding
EXACT_PAIRS_LIMIT = 2000


# ---------------------------------------------------------------------------
# metrics (``similarity.py:44-77``)
# ---------------------------------------------------------------------------


def jaccard(x: set[str] | frozenset[str], y: set[str] | frozenset[str]) -> float:
    """Two empty sets are identical ⇒ 1.0 (reference doctest
    ``jaccard(set(), set()) == 1.0``, ``architxt/similarity.py``)."""
    if not x and not y:
        return 1.0
    return len(x & y) / len(x | y)


def levenshtein_ratio(a, b) -> float:
    """Indel similarity over two sequences — ``Levenshtein.ratio``
    parity (the reference's ``levenshtein`` metric is
    ``Levenshtein.ratio(sorted(x), sorted(y))`` over label SEQUENCES,
    ``architxt/similarity.py:66-69``): substitutions cost 2, so the
    ratio is ``2·LCS/(|a|+|b|)``.  Accepts strings (char sequences) or
    lists of labels (symbol sequences); for two SORTED DISTINCT
    sequences LCS = |intersection|, which is what the column twin in
    :func:`_metric_score` exploits."""
    la, lb = len(a), len(b)
    if not la and not lb:
        return 1.0
    if not la or not lb:
        return 0.0
    # LCS via the classic DP (sequences here are vocabulary-bounded)
    prev = [0] * (lb + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b, 1):
            cur.append(prev[j - 1] + 1 if ca == cb else max(prev[j], cur[j - 1]))
        prev = cur
    return 2.0 * prev[-1] / (la + lb)


def jaro(a, b) -> float:
    """Jaro similarity over two sequences (strings or label lists)."""
    if len(a) == len(b) and all(x == y for x, y in zip(a, b)):
        return 1.0
    la, lb = len(a), len(b)
    if not la or not lb:
        return 0.0
    window = max(la, lb) // 2 - 1
    match_a = [False] * la
    match_b = [False] * lb
    matches = 0
    for i in range(la):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and a[i] == b[j]:
                match_a[i] = match_b[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if match_a[i]:
            while not match_b[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / la + matches / lb + (matches - t) / matches) / 3


def jaro_winkler(a, b, p: float = 0.1, max_prefix: int = 4) -> float:
    """Jaro-Winkler with the rapidfuzz/``Levenshtein.jaro_winkler``
    convention the reference depends on (``similarity.py:72-74``): the
    prefix boost applies only when the Jaro similarity exceeds the 0.7
    boost threshold — matching DuckDB's ``jaro_winkler_similarity``,
    which the oracle twins use."""
    j = jaro(a, b)
    if j <= 0.7:
        return j
    prefix = 0
    for ca, cb in zip(a, b):
        if ca != cb or prefix == max_prefix:
            break
        prefix += 1
    return j + prefix * p * (1 - j)


#: The reference metrics compare SORTED LABEL SEQUENCES (each label one
#: symbol), not joined strings: ``levenshtein = Levenshtein.ratio(
#: sorted(x), sorted(y))``, ``jaro = Levenshtein.jaro_winkler(sorted(x),
#: sorted(y))`` (``architxt/similarity.py:66-74``).
METRIC_FUNCS = {
    "jaccard": lambda x, y: jaccard(set(x), set(y)),
    "levenshtein": lambda x, y: levenshtein_ratio(sorted(set(x)), sorted(set(y))),
    "jaro": lambda x, y: jaro_winkler(sorted(set(x)), sorted(set(y))),
}
DEFAULT_METRIC = "jaro"


def context_similarity(
    ctx_x: list[frozenset[str]], ctx_y: list[frozenset[str]], metric: str = DEFAULT_METRIC
) -> float:
    """Decay-weighted ancestor-context similarity
    (``similarity.py:92-168``): Σ decay⁻ⁱ · metric(ctxᵢ) / Σ decay⁻ⁱ over
    i ≤ 5 ancestor levels; 0 if the base entity sets are disjoint."""
    if not ctx_x or not ctx_y:
        return 0.0
    if ctx_x[0] and ctx_y[0] and not (ctx_x[0] & ctx_y[0]):
        return 0.0
    fn = METRIC_FUNCS[metric]
    num = 0.0
    den = 0.0
    for i in range(min(len(ctx_x), len(ctx_y), MAX_SIM_CTX_DEPTH)):
        w = DECAY ** -i
        num += w * fn(ctx_x[i], ctx_y[i])
        den += w
    return num / den if den else 0.0


# ---------------------------------------------------------------------------
# candidate extraction (per tree — trees are small)
# ---------------------------------------------------------------------------


def _tree_height(node: PyTree) -> int:
    hs = [(_tree_height(c) + 1) for c in node.children if isinstance(c, PyTree)]
    return max(hs, default=1)


def _collect_entities(node: PyTree) -> list[PyTree]:
    acc = []
    for c in node.children:
        if isinstance(c, PyTree):
            if c.node_type == NodeType.ENT:
                acc.append(c)
            else:
                acc.extend(_collect_entities(c))
    if node.node_type == NodeType.ENT:
        acc.append(node)
    return acc


def candidate_subtrees(nodes: DataFrame, *, max_height: int = DEFAULT_MAX_HEIGHT) -> DataFrame:
    """(tree_id, node_id, node_name, signature) for candidate subtrees:
    height ≤ max_height, not ENT, ≥1 entity, no duplicate entity labels
    (``similarity.py:275-290``)."""
    import pandas as pd

    def extract(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for tid, tree in rows_to_trees(pdf.to_dict("records")).items():

            def walk(node: PyTree, path: list[int]) -> None:
                nid = node.oid or f"{tid}:{'.'.join(map(str, path)) or 'r'}"
                if node.node_type != NodeType.ENT and _tree_height(node) <= max_height:
                    ents = [e.node_name for e in _collect_entities(node)]
                    if ents and len(ents) == len(set(ents)):
                        out.append(
                            dict(
                                tree_id=tid,
                                node_id=nid,
                                node_name=node.node_name or "",
                                signature="|".join(sorted(ents)),
                            )
                        )
                for i, c in enumerate(node.children):
                    if isinstance(c, PyTree):
                        walk(c, path + [i])

            walk(tree, [])
        return pd.DataFrame(out, columns=["tree_id", "node_id", "node_name", "signature"])

    return tree_buckets(nodes).applyInPandas(
        extract, "tree_id string, node_id string, node_name string, signature string"
    )


def candidate_contexts(
    nodes: DataFrame,
    *,
    max_height: int = DEFAULT_MAX_HEIGHT,
    max_ctx: int = MAX_SIM_CTX_DEPTH,
) -> DataFrame:
    """(tree_id, node_id, node_name, typed_label, signature, ctx) for
    candidate subtrees, where ``ctx`` is the ancestor context the
    instance-mode similarity walks (``similarity.py:141-168``): one level
    per ancestor starting at the candidate itself (level 0), each level a
    struct of the node's typed label (``TYPE::name`` when the node carries
    a NodeType, else null — untyped syntactic nodes never take the
    label-equality shortcut) and its sorted entity-label set.  The walk
    stops at the root or after ``max_ctx`` levels, exactly like the
    reference's ancestor loop."""
    import pandas as pd

    def extract(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for tid, tree in rows_to_trees(pdf.to_dict("records")).items():

            def walk(node: PyTree, path: list[int], ancestors: list[PyTree]) -> None:
                nid = node.oid or f"{tid}:{'.'.join(map(str, path)) or 'r'}"
                if node.node_type != NodeType.ENT and _tree_height(node) <= max_height:
                    ents = [e.node_name for e in _collect_entities(node)]
                    if ents and len(ents) == len(set(ents)):
                        chain = [node, *reversed(ancestors)][:max_ctx]
                        ctx = [
                            {
                                "label": (
                                    f"{n.node_type}::{n.node_name}" if n.node_type else None
                                ),
                                "ents": sorted({e.node_name for e in _collect_entities(n)}),
                            }
                            for n in chain
                        ]
                        out.append(
                            dict(
                                tree_id=tid,
                                node_id=nid,
                                node_name=node.node_name or "",
                                typed_label=(
                                    f"{node.node_type}::{node.node_name}"
                                    if node.node_type
                                    else None
                                ),
                                signature="|".join(sorted(set(ents))),
                                ctx=ctx,
                            )
                        )
                for i, c in enumerate(node.children):
                    if isinstance(c, PyTree):
                        walk(c, path + [i], ancestors + [node])

            walk(tree, [], [])
        return pd.DataFrame(
            out,
            columns=["tree_id", "node_id", "node_name", "typed_label", "signature", "ctx"],
        )

    return tree_buckets(nodes).applyInPandas(
        extract,
        "tree_id string, node_id string, node_name string, typed_label string, "
        "signature string, ctx array<struct<label string, ents array<string>>>",
    )


def instance_similarity(
    ctx_x: list[dict], ctx_y: list[dict], metric: str = DEFAULT_METRIC
) -> float:
    """Instance-mode context similarity (``similarity.py:92-168``), over
    the ``(label, ents)`` level structs from :func:`candidate_contexts`:

    - disjoint level-0 entity sets ⇒ 0.0;
    - equal typed labels at level 0 ⇒ 1.0 (strong structural equivalence);
    - else the decay-weighted mean over ancestor levels, where a level
      scores 1.0 when both labels are typed and equal, else
      ``metric(ents_x, ents_y)``."""
    if not ctx_x or not ctx_y:
        return 0.0
    e0x, e0y = set(ctx_x[0]["ents"]), set(ctx_y[0]["ents"])
    if e0x and e0y and not (e0x & e0y):
        return 0.0
    if ctx_x[0]["label"] is not None and ctx_x[0]["label"] == ctx_y[0]["label"]:
        return 1.0
    fn = METRIC_FUNCS[metric]
    num = den = 0.0
    for i in range(min(len(ctx_x), len(ctx_y), MAX_SIM_CTX_DEPTH)):
        lx, ly = ctx_x[i]["label"], ctx_y[i]["label"]
        sim = 1.0 if (lx is not None and lx == ly) else fn(set(ctx_x[i]["ents"]), set(ctx_y[i]["ents"]))
        w = DECAY ** -i
        num += w * sim
        den += w
    return min(max(num / den, 0.0), 1.0) if den else 0.0


#: JVM-side context fingerprint — md5 over a canonical rendering of the
#: (label, ents) level structs; whole-stage codegen, no Python UDF.
_CTX_FP_EXPR = (
    "md5(array_join(transform(ctx, lvl -> "
    "concat(coalesce(lvl.label, ''), '\x02', array_join(lvl.ents, '|'))"
    "), '\x01'))"
)


def _hdbscan_flat_cut(
    member_idx: list[int],
    ctxs: list[list[dict]],
    mults: list[int],
    metric: str,
    *,
    eps: float,
    min_samples: int = 2,
) -> list[list[int]]:
    """DBSCAN*-style flat cut of the HDBSCAN hierarchy at ``eps`` for one
    single-linkage component — the semantics of the reference's
    ``HDBSCAN(metric='precomputed', cluster_selection_epsilon=1-tau,
    min_cluster_size=2)`` (``similarity.py:242-246,317-326``), without the
    hdbscan dependency (absent from this container):

    - core distance per rep honours multiplicity: a rep standing for ``m``
      identical instances contributes ``m-1`` (jittered-)zero distances to
      its own neighbourhood, so ``core = k``-th nearest other-instance
      distance with ``k = min_samples`` — identical to the library's
      row-partition over the instance matrix;
    - mutual reachability ``mr(i,j) = max(core_i, core_j, d_ij)``;
    - points stay together iff connected at ``mr <= eps``.

    This is the finest flat clustering consistent with
    ``cluster_selection_epsilon`` ("clusters below eps are never split");
    the eom stability pass can only pick *coarser* groupings born above
    eps, which meta-model forests at tau >= 0.5 do not produce.  It is
    exactly where single-linkage over-merges: a sparse chain's endpoint
    whose second-nearest instance lies beyond eps gets core > eps and
    detaches, so chained components shed their far members instead of
    absorbing them.  Per-component equals the global cut because any
    instance within eps of a point is necessarily in the same
    tau-component (d <= eps ⇔ sim >= tau).
    """
    n = len(member_idx)
    if n == 1:
        return [member_idx]
    sims = [[1.0] * n for _ in range(n)]
    for a in range(n):
        for b in range(a + 1, n):
            s = instance_similarity(ctxs[member_idx[a]], ctxs[member_idx[b]], metric)
            sims[a][b] = sims[b][a] = s
    dist = [[1.0 - sims[a][b] for b in range(n)] for a in range(n)]

    core = [0.0] * n
    for a in range(n):
        ds = [0.0] * (mults[member_idx[a]] - 1)
        for b in range(n):
            if b != a:
                ds.extend([dist[a][b]] * min(mults[member_idx[b]], min_samples))
        ds.sort()
        if len(ds) >= min_samples:
            core[a] = ds[min_samples - 1]
        elif ds:
            core[a] = ds[-1]

    uf = _UnionFind()
    for a in range(n):
        uf.find(a)
        for b in range(a + 1, n):
            if max(core[a], core[b], dist[a][b]) <= eps:
                uf.union(a, b)
    subs: dict[int, list[int]] = {}
    for a in range(n):
        subs.setdefault(uf.find(a), []).append(member_idx[a])
    return list(subs.values())


def cluster_forest_instance(
    nodes: DataFrame,
    *,
    tau: float = 0.7,
    metric: str = DEFAULT_METRIC,
    max_height: int = DEFAULT_MAX_HEIGHT,
    min_cluster_size: int = 2,
    refine: bool = True,
    rep_budget: int = 50_000,
) -> DataFrame:
    """Instance-mode subtree clustering (``TreeClusterer.fit`` with
    ``schema_only=False``, ``similarity.py:200-368``): pairwise
    context-weighted similarity over candidate subtrees, single-linkage
    components at τ, clusters below ``min_cluster_size`` dropped, named
    ``{modal typed member label}_{ordinal}`` (``:359-366``).

    Spark shape — exact-by-collapse instead of O(n²) over instances:

    1. every candidate is mapped to a **representative**
       ``(typed_label, ctx_fingerprint)``.  This collapse is *lossless*
       under the reference metric: two candidates with the same typed
       label score 1.0 outright, and two candidates with byte-identical
       contexts score 1.0 level-by-level — either way they always land in
       the same single-linkage component.  One shuffle
       (groupBy rep key); the driver only ever sees DISTINCT reps, which
       are schema-bounded (label vocabulary × distinct context shapes),
       not corpus-bounded.
    2. rep pairs: all-pairs under ``EXACT_PAIRS_LIMIT``, else banded
       MinHash-LSH on the level-0 entity sets (a shared level-0 entity is
       necessary for a non-zero score, so banding on it loses no τ-edge
       candidates worth having);
    3. exact rescoring with :func:`instance_similarity` + union-find;
       same-typed-label reps are pre-unioned (they are mutually 1.0);
    4. HDBSCAN refinement (``refine=True``, the reference's
       ``cluster_selection_epsilon=1-tau`` semantics): each component is
       re-cut at mutual reachability <= 1-tau via
       :func:`_hdbscan_flat_cut`, shedding sparse chain members that pure
       single-linkage over-merges.

    Returns assignments ``(node_id, cluster_name, support)``.
    """
    spark = nodes.sparkSession
    cands = candidate_contexts(nodes, max_height=max_height)

    with_rep = cands.withColumn("ctx_fp", F.expr(_CTX_FP_EXPR))

    # one row per distinct (typed_label, ctx_fp): the rep's ctx plus its
    # member count and modal-name counts — all driver rows are aggregates.
    # The rep set is schema-bounded (label vocabulary × distinct context
    # shapes) for meta-model forests, but pathologically heterogeneous
    # corpora (deep unlabelled syntax trees) can multiply context shapes —
    # so the collect is capped at rep_budget+1 rows and the operator
    # degrades LOUDLY to signature-mode clustering past the budget instead
    # of OOMing the driver.
    rep_stats = (
        with_rep.groupBy("typed_label", "ctx_fp")
        .agg(
            F.count("*").alias("n_members"),
            F.first("ctx").alias("ctx"),
            F.first("node_name").alias("a_name"),
        )
        .limit(rep_budget + 1)
        .collect()
    )
    if len(rep_stats) > rep_budget:
        import warnings

        warnings.warn(
            f"cluster_forest_instance: > {rep_budget} distinct "
            "(typed_label, ctx) representatives — context shapes are not "
            "schema-bounded on this forest; degrading to signature-mode "
            "clustering (raise rep_budget to force instance mode)",
            RuntimeWarning,
            stacklevel=2,
        )
        return cluster_forest(nodes, tau=tau, metric=metric, max_height=max_height)
    if not rep_stats:
        return spark.createDataFrame([], "node_id string, cluster_name string, support long")

    reps = sorted(rep_stats, key=lambda r: (r["typed_label"] or "", r["ctx_fp"]))
    keys = [f"{r['typed_label'] or ''}\x00{r['ctx_fp']}" for r in reps]
    ctxs = [[lvl.asDict() for lvl in r["ctx"]] for r in reps]

    uf = _UnionFind()
    # same typed label ⇒ similarity 1.0 ⇒ same component
    by_label: dict[str, str] = {}
    for k, r in zip(keys, reps):
        uf.find(k)
        if r["typed_label"]:
            if r["typed_label"] in by_label:
                uf.union(by_label[r["typed_label"]], k)
            else:
                by_label[r["typed_label"]] = k

    if len(keys) <= EXACT_PAIRS_LIMIT:
        pair_idx: Iterator[tuple[int, int]] = (
            (i, j) for i in range(len(keys)) for j in range(i + 1, len(keys))
        )
    else:
        buckets: dict[str, list[int]] = {}
        for i, ctx in enumerate(ctxs):
            for band in _minhash_bands(ctx[0]["ents"] or ["\x00empty"]):
                buckets.setdefault(band, []).append(i)
        pair_idx = _banded_candidate_pairs(buckets)

    for i, j in pair_idx:
        if uf.find(keys[i]) == uf.find(keys[j]):
            continue
        if instance_similarity(ctxs[i], ctxs[j], metric) >= tau:
            uf.union(keys[i], keys[j])

    comp_of = {k: uf.find(k) for k in keys}
    if refine:
        # HDBSCAN refinement (reference similarity.py:242-246): re-cut each
        # single-linkage component at mutual-reachability <= 1-tau so that
        # sparse chain members single-linkage over-merged detach.  The
        # refined component id is the lexicographic min of its member keys
        # (deterministic, independent of union order).
        comps_idx: dict[str, list[int]] = {}
        for i, k in enumerate(keys):
            comps_idx.setdefault(comp_of[k], []).append(i)
        mults = [r["n_members"] for r in reps]
        refined: dict[str, str] = {}
        for members in comps_idx.values():
            for sub in _hdbscan_flat_cut(members, ctxs, mults, metric, eps=1 - tau):
                sub_id = min(keys[i] for i in sub)
                for i in sub:
                    refined[keys[i]] = sub_id
        comp_of = refined
    comp_support: dict[str, int] = {}
    comp_names: dict[str, Counter] = {}
    for k, r in zip(keys, reps):
        c = comp_of[k]
        comp_support[c] = comp_support.get(c, 0) + r["n_members"]
        cnt = comp_names.setdefault(c, Counter())
        if r["typed_label"]:
            # reference counts label *names* of typed members (:360-362)
            cnt[r["typed_label"].split("::", 1)[1]] += r["n_members"]

    cluster_name: dict[str, str] = {}
    ordinal = 0
    for c in sorted(comp_support):
        if comp_support[c] < min_cluster_size:
            continue
        cnt = comp_names[c]
        base = min(cnt, key=lambda n: (-cnt[n], n)) if cnt else None
        cluster_name[c] = f"{base}_{ordinal}" if base else str(ordinal)
        ordinal += 1

    mapping_rows = [
        (r["typed_label"], r["ctx_fp"], cluster_name[comp_of[k]], comp_support[comp_of[k]])
        for k, r in zip(keys, reps)
        if comp_of[k] in cluster_name
    ]
    if not mapping_rows:
        return spark.createDataFrame([], "node_id string, cluster_name string, support long")
    mapping = spark.createDataFrame(
        mapping_rows, "typed_label string, ctx_fp string, cluster_name string, support long"
    )
    return (
        with_rep.join(
            F.broadcast(mapping),
            on=[
                with_rep["ctx_fp"] == mapping["ctx_fp"],
                with_rep["typed_label"].eqNullSafe(mapping["typed_label"]),
            ],
        )
        .select("node_id", "cluster_name", "support")
    )


# ---------------------------------------------------------------------------
# signature clustering
# ---------------------------------------------------------------------------


def _minhash_bands(tokens: list[str], n_hashes: int = 16, band_size: int = 4) -> list[str]:
    """Deterministic md5-based minhash, banded for LSH."""
    mins = []
    for seed in range(n_hashes):
        mins.append(
            min(hashlib.md5(f"{seed}#{t}".encode()).hexdigest() for t in tokens)
        )
    return [
        f"{b}:" + hashlib.md5("|".join(mins[b * band_size : (b + 1) * band_size]).encode()).hexdigest()
        for b in range(n_hashes // band_size)
    ]


#: Per-bucket member budget for the driver-side banded pair generators.
SIG_BUCKET_BUDGET = 256


def _banded_candidate_pairs(buckets: dict, budget: int = SIG_BUCKET_BUDGET) -> Iterator:
    """Deduped candidate pairs from LSH buckets with a per-bucket budget:
    a bucket exceeding ``budget`` members contributes anchor-chained
    pairs (each member vs the bucket min) instead of all pairs — O(M)
    work for a hot bucket instead of M²/2, so one degenerate band can
    never build a quadratic ``seen`` set on the driver (the same
    exposure :func:`~architxt_spark.functions.dedup.minhash_lsh_pairs`
    caps with ``max_band_df`` on the distributed side).  Union-find
    transitivity keeps everything the anchor links connected; recall is
    reduced only for within-bucket pairs neither of which matches the
    anchor — degradation is LOUD (RuntimeWarning), mirroring
    ``rep_budget``."""
    import warnings

    seen: set = set()
    cand: list = []
    hot = 0
    for members in buckets.values():
        if len(members) > budget:
            hot += 1
            anchor = min(members)
            it = (
                (anchor, b) if anchor < b else (b, anchor)
                for b in members
                if b != anchor
            )
        else:
            it = (
                (a, b) if a < b else (b, a)
                for i, a in enumerate(members)
                for b in members[i + 1 :]
            )
        for key in it:
            if key not in seen:
                seen.add(key)
                cand.append(key)
    if hot:
        warnings.warn(
            f"banded signature clustering: {hot} hot bucket(s) exceeded "
            f"{budget} members; their pairs were chained to the bucket "
            "anchor (reduced within-bucket recall — raise "
            "SIG_BUCKET_BUDGET to force all-pairs)",
            RuntimeWarning,
            stacklevel=3,
        )
    return iter(cand)


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def _cluster_signatures(
    sigs: list[str], tau: float, metric: str
) -> dict[str, str]:
    """signature → component-representative signature."""
    uf = _UnionFind()
    fn = METRIC_FUNCS[metric]
    sets = {s: frozenset(s.split("|")) for s in sigs}

    if len(sigs) <= EXACT_PAIRS_LIMIT:
        pairs: Iterator[tuple[str, str]] = (
            (a, b) for i, a in enumerate(sigs) for b in sigs[i + 1 :]
        )
    else:
        # LSH banding on the distinct signature set (per-bucket budget —
        # a hot band degrades to anchor chaining, never quadratic)
        buckets: dict[str, list[str]] = {}
        for s in sigs:
            for band in _minhash_bands(sorted(sets[s])):
                buckets.setdefault(band, []).append(s)
        pairs = _banded_candidate_pairs(buckets)

    for a, b in pairs:
        if sets[a] & sets[b] and fn(sets[a], sets[b]) >= tau:
            uf.union(a, b)
    return {s: uf.find(s) for s in sigs}


def _names_from_sig_stats(
    rows, tau: float, metric: str
) -> tuple[dict[str, str], dict[str, str], dict[str, int]]:
    """Shared driver-side core of :func:`cluster_forest_with_index` /
    :func:`signature_index`: cluster the distinct signature strings and
    derive each component's deterministic modal name and support.
    Returns ``(comp, cluster_name, comp_support)``."""
    sigs = sorted({r["signature"] for r in rows})
    comp = _cluster_signatures(sigs, tau, metric)

    # modal member label per component → cluster name (``similarity.py:340-352``)
    comp_counts: dict[str, Counter] = {}
    comp_support: dict[str, int] = {}
    for r in rows:
        c = comp[r["signature"]]
        comp_support[c] = comp_support.get(c, 0) + r["name_count"]
        cnt = comp_counts.setdefault(c, Counter())
        if r["node_name"]:
            cnt[r["node_name"]] += r["name_count"]

    cluster_name: dict[str, str] = {}
    used: set[str] = set()
    for i, (c, cnt) in enumerate(sorted(comp_counts.items())):
        # deterministic modal name: highest count, ties to the smallest name
        base = min(cnt, key=lambda n: (-cnt[n], n)) if cnt else f"C{i}"
        # modal labels collide across components (e.g. every tree's ROOT);
        # deterministic numbering keeps cluster identities distinct
        name, k = base, 1
        while name in used:
            name = f"{base}_{k}"
            k += 1
        used.add(name)
        cluster_name[c] = name
    return comp, cluster_name, comp_support


def signature_index(
    nodes: DataFrame,
    *,
    tau: float = 0.7,
    metric: str = DEFAULT_METRIC,
    max_height: int = DEFAULT_MAX_HEIGHT,
) -> dict[frozenset, tuple[str, int]]:
    """The signature index alone — the entity-label-frozenset →
    ``(cluster_name, support)`` map the rewrite engine broadcasts to its
    per-tree ops (FindSubGroups / MergeGroups / the fused find_groups
    pass).  Identical contents to :func:`cluster_forest_with_index`'s
    second return value, but skips materializing the per-node assignments
    frame entirely: one candidate-extraction Arrow pass feeding one
    vocabulary-bounded aggregate collect, no cache, no join."""
    sig_stats = (
        candidate_subtrees(nodes, max_height=max_height)
        .groupBy("signature", "node_name")
        .agg(F.count("*").alias("name_count"))
    )
    rows = sig_stats.collect()
    if not rows:
        return {}
    comp, cluster_name, comp_support = _names_from_sig_stats(rows, tau, metric)
    return {
        frozenset(s.split("|")): (cluster_name[comp[s]], comp_support[comp[s]])
        for s in sorted({r["signature"] for r in rows})
    }


def find_groups_in_tree(
    tree: PyTree,
    index: dict[frozenset, tuple[str, int]],
    min_support: int,
    *,
    max_height: int = DEFAULT_MAX_HEIGHT,
) -> bool:
    """Per-tree twin of :func:`architxt_spark.operators.engine.find_groups`
    (``find_groups`` / ``create_group``,
    ``simplification/tree_rewriting/__init__.py:636-706``): convert
    frequent-cluster member subtrees into GROUP nodes, reading cluster
    membership from the broadcast signature index instead of a joined
    assignments frame.

    Exact-mirror semantics of the join version: eligibility is evaluated
    against the PRE-pass tree state for every node (collect first, then
    relabel — the join version computes all its predicates on the input
    frame); a member subtree converts when its cluster support >
    ``min_support``, it has ≥2 named children, all of them ENT with
    distinct labels, and its parent is not a GROUP.  Conversion relabels
    to ``GROUP::<cluster>`` in place.  Candidate membership (not ENT,
    height ≤ ``max_height``, ≥1 entity, unique entity labels) and the
    signature round-trip match :func:`candidate_subtrees` exactly, so the
    index lookup hits precisely the nodes the assignments join would
    reach."""
    eligible: list[tuple[PyTree, str]] = []

    def walk(node: PyTree, parent: PyTree | None) -> None:
        if node.node_type != NodeType.ENT and _tree_height(node) <= max_height:
            ents = [e.node_name for e in _collect_entities(node)]
            if ents and len(ents) == len(set(ents)):
                sig = "|".join(sorted(ents))
                hit = index.get(frozenset(sig.split("|")))
                if hit is not None and hit[1] > min_support:
                    named = [c for c in node.children if isinstance(c, PyTree)]
                    if (
                        len(named) >= 2
                        and all(c.node_type == NodeType.ENT for c in named)
                        and len({c.node_name for c in named}) == len(named)
                        and (parent is None or parent.node_type != NodeType.GROUP)
                    ):
                        eligible.append((node, hit[0]))
        for c in node.children:
            if isinstance(c, PyTree):
                walk(c, node)

    walk(tree, None)
    for node, name in eligible:
        node.label = f"{NodeType.GROUP}::{name}"
    return bool(eligible)


def cluster_forest_with_index(
    nodes: DataFrame,
    *,
    tau: float = 0.7,
    metric: str = DEFAULT_METRIC,
    max_height: int = DEFAULT_MAX_HEIGHT,
) -> tuple[DataFrame, dict[frozenset, tuple[str, int]]]:
    """Cluster candidate subtrees.  Returns
    ``(assignments(node_id, cluster_name, support), signature index)`` —
    the index maps an entity-label frozenset to its cluster's
    ``(name, support)`` and is the broadcastable context the combinatorial
    ops (FindSubGroups / MergeGroups) score hypothetical groups against.

    Support/membership are global aggregations over signatures; only the
    DISTINCT signature set (vocabulary-bounded) touches the driver.
    """
    spark = nodes.sparkSession
    cands = candidate_subtrees(nodes, max_height=max_height)
    with held(cands):
        # Aggregate to (signature, node_name, count) BEFORE collecting: the
        # driver then sees rows bounded by |signature vocab| × |name vocab|,
        # never O(#subtrees) — a collect_list of member names would ship
        # every candidate's name for hot signatures and OOM at scale.
        sig_stats = cands.groupBy("signature", "node_name").agg(
            F.count("*").alias("name_count")
        )
        rows = sig_stats.collect()
        if not rows:
            empty = spark.createDataFrame([], "node_id string, cluster_name string, support long")
            return empty, {}
        sigs = sorted({r["signature"] for r in rows})
        comp, cluster_name, comp_support = _names_from_sig_stats(rows, tau, metric)

        mapping = spark.createDataFrame(
            [(s, cluster_name[comp[s]], comp_support[comp[s]]) for s in sigs],
            "signature string, cluster_name string, support long",
        )
        # land the assignments BEFORE the held candidate frame is released:
        # a lazy result would re-run the extraction pass per consumer
        out = stage_barrier(
            cands.join(F.broadcast(mapping), "signature").select(
                "node_id", "cluster_name", "support"
            )
        )
    index = {
        frozenset(s.split("|")): (cluster_name[comp[s]], comp_support[comp[s]]) for s in sigs
    }
    return out, index


def cluster_forest(
    nodes: DataFrame,
    *,
    tau: float = 0.7,
    metric: str = DEFAULT_METRIC,
    max_height: int = DEFAULT_MAX_HEIGHT,
) -> DataFrame:
    """Cluster candidate subtrees; returns (node_id, cluster_name, support)."""
    out, _ = cluster_forest_with_index(nodes, tau=tau, metric=metric, max_height=max_height)
    return out


def entity_cluster_labels(
    nodes: DataFrame, *, tau: float = 0.7, metric: str = DEFAULT_METRIC
) -> DataFrame:
    """Cluster the PARENTS of entities → entity-OID → cluster-name map
    (``entity_labels``, ``similarity.py:514-553``), used by the AMI metric.
    Returns (ent_node_id, cluster_name)."""
    assignments = cluster_forest(nodes, tau=tau, metric=metric)
    ents = nodes.filter(F.col("node_type") == NodeType.ENT).select(
        F.col("node_id").alias("ent_node_id"), F.col("parent_id")
    )
    return ents.join(
        assignments.withColumnRenamed("node_id", "parent_id"), "parent_id"
    ).select("ent_node_id", "cluster_name")


def _metric_score(metric: str, a_ents: F.Column, b_ents: F.Column) -> F.Column:
    """Column-level twin of ``METRIC_FUNCS[metric]`` over two SORTED
    DISTINCT entity-label arrays (signature order is canonical)."""
    if metric == "jaccard":
        return F.size(F.array_intersect(a_ents, b_ents)) / F.size(
            F.array_union(a_ents, b_ents)
        )
    if metric == "levenshtein":
        # Levenshtein.ratio = 2·LCS/(|a|+|b|); for sorted distinct
        # sequences LCS = |a ∩ b|, so the indel ratio is the Dice
        # coefficient — pure codegen, no UDF
        return (
            F.lit(2.0) * F.size(F.array_intersect(a_ents, b_ents))
            / (F.size(a_ents) + F.size(b_ents))
        )
    if metric == "jaro":
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _jw_fn(a, b):
            return pd.Series(
                [jaro_winkler(list(x), list(y)) for x, y in zip(a, b)]
            )

        # module uses `from __future__ import annotations` (stringized
        # hints), so give pandas_udf real class annotations directly
        _jw_fn.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
        _jw = pandas_udf(_jw_fn, "double")
        return _jw(a_ents, b_ents)
    raise ValueError(f"unknown metric {metric!r}")


def assign_to_clusters(
    nodes: DataFrame,
    index: dict[frozenset, tuple[str, int]],
    *,
    tau: float = 0.7,
    metric: str = DEFAULT_METRIC,
    max_height: int = DEFAULT_MAX_HEIGHT,
) -> DataFrame:
    """Assign NEW candidate subtrees to EXISTING clusters
    (``TreeClusterer.get_equiv_of``, ``similarity.py:370-432``): exact
    signature membership first, else the best-scoring cluster signature at
    or above tau (ties broken to the smallest index signature).  Returns
    (node_id, cluster_name, score).

    Scale shape: the small cluster index is broadcast against the DISTINCT
    signature frame and scored with column expressions (arrow-batched UDF
    for jaro) — sig×index pairs never touch the driver, and the pair count
    is |distinct signatures| × |index|, both vocabulary-bounded."""
    from pyspark.sql import Window

    spark = nodes.sparkSession
    cands = candidate_subtrees(nodes, max_height=max_height)
    if not index:
        return spark.createDataFrame([], "node_id string, cluster_name string, score double")

    idx = spark.createDataFrame(
        [("|".join(sorted(fs)), name) for fs, (name, _support) in index.items()],
        "idx_sig string, idx_cluster string",
    ).withColumn("idx_ents", F.split("idx_sig", r"\|"))

    d = (
        cands.select("signature")
        .distinct()
        .withColumn("ents", F.split("signature", r"\|"))
    )

    # exact signature membership: score pinned to 1.0 regardless of tau
    exact = d.join(
        F.broadcast(idx), d["signature"] == idx["idx_sig"]
    ).select("signature", F.col("idx_cluster").alias("cluster_name"), F.lit(1.0).alias("score"))

    # fuzzy: disjoint entity sets score 0 (reference shortcut) -> the
    # arrays_overlap predicate prunes them inside the broadcast join
    scored = (
        d.join(exact.select("signature"), "signature", "left_anti")
        .join(F.broadcast(idx), F.arrays_overlap(F.col("ents"), F.col("idx_ents")))
        .withColumn("raw", _metric_score(metric, F.col("ents"), F.col("idx_ents")))
        .filter(F.col("raw") >= tau)
    )
    w = Window.partitionBy("signature").orderBy(F.col("raw").desc(), F.col("idx_sig"))
    fuzzy = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "signature",
            F.col("idx_cluster").alias("cluster_name"),
            F.round("raw", 6).alias("score"),
        )
    )

    m = exact.unionByName(fuzzy)
    return cands.join(F.broadcast(m), "signature").select("node_id", "cluster_name", "score")


def mlflow_log_clustering(
    clusters: DataFrame,
    base_path: str,
    *,
    cluster_col: str = "cluster_name",
    mlflow_module=None,
    plt_module=None,
) -> None:
    """Log the clustering result as MLflow artifacts — parity for the
    reference's ``TreeClusterer.mlflow_plot``
    (``architxt/similarity.py:493-511``), which renders the HDBSCAN
    condensed / single-linkage tree figures.

    This engine's clustering lives in a distributed frame rather than a
    fitted clusterer object, so the equivalent artifact is the cluster
    census profile (cluster → member count, size-ranked): rendered with
    matplotlib via ``mlflow.log_figure`` when both are importable, and
    ALWAYS emitted as a ``log_table`` JSON artifact so headless driver
    containers keep the artifact.  Plot failures warn instead of raising,
    as the reference does; the no-active-run no-op is an INTENTIONAL
    DEVIATION (the reference logs unconditionally and lets mlflow's
    fluent API auto-start a run — in a shared Spark driver an implicit
    run would swallow artifacts into an anonymous experiment).  The
    census aggregate is cluster-bounded before it reaches the driver.
    """
    import warnings

    if mlflow_module is None:
        import mlflow as mlflow_module  # env-gated: absent from this container
    if not mlflow_module.active_run():
        return

    census = (
        clusters.groupBy(cluster_col)
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), cluster_col)
        .collect()
    )
    names = [r[cluster_col] for r in census]
    sizes = [r["size"] for r in census]
    if hasattr(mlflow_module, "log_table"):
        mlflow_module.log_table(
            {"cluster": names, "size": sizes},
            artifact_file=f"{base_path}/condensed_tree.json",
        )

    if plt_module is None:
        try:
            import matplotlib

            matplotlib.use("Agg")
            from matplotlib import pyplot as plt_module
        except Exception:
            return
    if not hasattr(mlflow_module, "log_figure"):
        return
    try:
        fig, ax = plt_module.subplots(figsize=(8, max(2.0, len(names) * 0.3)))
        ax.barh(names, sizes)
        ax.invert_yaxis()
        ax.set_xlabel("cluster size")
        ax.set_title("cluster census (condensed-tree profile)")
        mlflow_module.log_figure(fig, f"{base_path}/condensed_tree.svg")
        plt_module.close(fig)
    except Exception as error:  # reference warns and continues (:503-505)
        warnings.warn(f"Could not plot cluster census: {error}", stacklevel=2)
