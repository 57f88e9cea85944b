"""Distributed rewrite engine: per-tree ops via ``applyInPandas`` and the
iterative fixpoint loop.

The reference's driver loop (``rewrite()``,
``architxt/simplification/tree_rewriting/__init__.py:56-168``) runs per
iteration: reduce → cluster → find_groups → [FindSubGroups, MergeGroups,
FindCollections, FindRelations, FindCollections, ReduceBottom, ReduceTop]
with early-exit at the first op class that changed anything, to fixpoint
(≤ epoch iterations).  Its ProcessPool/Queue/Barrier machinery
(``:311-584``) is deleted wholesale — Spark scheduling replaces it.

Scale design:

- every per-tree pass groups through ``session.tree_buckets``: one
  pinned-width exchange on a hash bucket of ``tree_id`` per pass, many
  whole trees per pandas call;
- find_groups is FUSED into the per-tree passes (its eligibility is
  tree-local given the broadcast signature index,
  ``similarity.find_groups_in_tree``) — no per-iteration join pipeline
  or extra checkpoint;
- each iteration ends with ``localCheckpoint`` to truncate lineage
  (a Pregel-style loop);
- "did anything change" comes from one speculative probe pass that
  returns per-op changed-tree counts (``probe_ops``), not a driver-side
  diff; the winning chain is deferred into the next pass, so the
  per-tree passes emit plain node rows;
- the ``on_iteration`` callback costs one census aggregation per
  iteration and leaves the plan as it is (the census re-runs the
  deferred chain lazily instead of landing it);
- cluster support is computed once per iteration (iteration-synchronous
  semantics; the reference re-evaluates against the mutating forest as it
  rewrites tree-by-tree — an accepted, documented difference matching its
  own ``schema_only`` mode's spirit).
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from architxt_spark.model import NODE_SCHEMA, NodeType
from architxt_spark.operators import pytree_ops
from architxt_spark.trees import PyTree, rows_to_trees, tree_to_rows
from architxt_spark.session import stage_barrier, tree_buckets


def apply_tree_op(nodes: DataFrame, op: Callable[[PyTree], object]) -> DataFrame:
    """Apply an in-place per-tree rewrite to every tree and re-emit the
    node rows (``NODE_SCHEMA``; ``op``'s return value is ignored — change
    detection is :func:`probe_ops`' job).  Trees are processed in hash
    buckets (many trees per pandas call — see
    :func:`architxt_spark.session.tree_buckets`): the per-group Arrow
    overhead of one-call-per-tree dominated the whole rewrite iteration
    (12.6 s → ~1 s for the reduce pass over 2,500 trees)."""
    import pandas as pd

    cols = [f.name for f in NODE_SCHEMA.fields]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for tid, tree in rows_to_trees(pdf.to_dict("records")).items():
            op(tree)
            out.extend(tree_to_rows(tree, tid))
        return pd.DataFrame(out, columns=cols)

    return tree_buckets(nodes).applyInPandas(run, NODE_SCHEMA)


def probe_ops(
    nodes: DataFrame,
    ops: list[tuple[str, Callable[[PyTree], bool]]],
    pre: Callable[[PyTree], bool],
) -> list[int]:
    """Speculatively probe EVERY op in ONE ``applyInPandas`` pass: each op
    runs against a fresh copy of each tree and only the changed FLAGS come
    back (no node re-emission).  Returns changed-tree counts per op.

    ``pre`` is a non-speculative per-tree transform applied IN PLACE
    before probing (the fused find_groups pass): the probe then reads the
    exact state the ops will later be applied to, without the transform
    ever materializing its own frame.

    The probe finds the early-exit winner (first op reporting a change);
    the caller then applies the chain up to AND including the winner for
    real, because ops can mutate while returning False (``find_collections``
    renames existing COLLs, ``_make_group_group_relation`` relabels an
    existing REL — reference ``operations/collections.py:45-47``,
    ``operations/relations.py:78``) and those rename-only side effects
    must persist exactly as in the reference's sequential chain.  Replaces
    up to ``len(ops)`` full rewrite passes (serialize → mutate → re-emit →
    checkpoint → count) with one flag pass + one real pass."""
    import pandas as pd

    fns = [f for _, f in ops]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        trees = rows_to_trees(pdf.to_dict("records"))
        out = []
        for tid, tree in trees.items():
            pre(tree)
            # stop at the tree's first changing op: the caller only needs
            # the globally-first changed op (min over trees of each
            # tree's first change — unaffected by skipping later ops) and
            # its exact tree count (every tree reaches the winner index,
            # since no tree changes before it).  Halves probe work in the
            # common one-op-wins case.
            for i, fn in enumerate(fns):
                changed = 1 if fn(tree.copy()) else 0
                out.append((i, changed))
                if changed:
                    break
        return pd.DataFrame(out, columns=["op", "changed"])

    flags = tree_buckets(nodes).applyInPandas(run, "op int, changed int")
    counts = {
        r["op"]: r["n"]
        for r in flags.groupBy("op").agg(F.sum("changed").alias("n")).collect()
    }
    return [int(counts.get(i, 0)) for i in range(len(fns))]


def simple_rewrite(nodes: DataFrame) -> DataFrame:
    """Baseline rewrite (``architxt/simplification/simple_rewrite.py:19-66``):
    each tree with unlabelled nodes collapses to one GROUP of its distinct
    entities; group ids assigned per unique sorted entity-label set.

    Fully set-based: ``groupBy(tree_id).agg(sort_array(collect_set))`` +
    ``dense_rank`` for stable group ids, then re-emit node rows.
    """
    ents = nodes.filter(F.col("node_type") == NodeType.ENT)
    # trees with no unlabelled internal node keep their structure
    unlabelled = (
        nodes.filter(F.col("node_name").isNotNull() & F.col("node_type").isNull())
        .select("tree_id")
        .distinct()
    )
    tree_sets = (
        ents.join(unlabelled, "tree_id", "left_semi")
        .groupBy("tree_id")
        .agg(F.sort_array(F.collect_set("node_name")).alias("label_set"))
    )
    # Rank only the DISTINCT label sets — a frame bounded by entity-vocab
    # combinations, not by forest size — so the unpartitioned window never
    # sees a per-tree row (at 100x scale a global window over tree_sets
    # would funnel every tree through one task).  The dense ids are then
    # joined back per tree; the distinct frame is small enough to broadcast.
    set_ids = (
        tree_sets.select("label_set")
        .distinct()
        .withColumn("group_id", F.dense_rank().over(Window.orderBy("label_set")).cast("string"))
    )
    keys = tree_sets.join(F.broadcast(set_ids), "label_set")

    # first entity occurrence per (tree, name): dedup entities
    leaves = nodes.filter(F.col("node_name").isNull() & F.col("leaf_value").isNotNull()).select(
        F.col("parent_id").alias("ent_ref"), F.col("pos").alias("leaf_pos"), F.col("leaf_value").alias("lv")
    )
    first_ents = (
        ents.join(keys.select("tree_id", "group_id"), "tree_id")
        .withColumn("rn", F.row_number().over(Window.partitionBy("tree_id", "node_name").orderBy("path")))
        .filter(F.col("rn") == 1)
        .withColumn("ent_pos", F.row_number().over(Window.partitionBy("tree_id").orderBy("path")) - 1)
    )

    root = keys.select(
        "tree_id",
        F.concat(F.col("tree_id"), F.lit(":r")).alias("node_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit(0).alias("pos"),
        F.array().cast("array<int>").alias("path"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("node_type"),
        F.lit("ROOT").alias("node_name"),
        F.lit(None).cast("string").alias("leaf_value"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )
    group = keys.select(
        "tree_id",
        F.concat(F.col("tree_id"), F.lit(":g")).alias("node_id"),
        F.concat(F.col("tree_id"), F.lit(":r")).alias("parent_id"),
        F.lit(0).alias("pos"),
        F.array(F.lit(0)).cast("array<int>").alias("path"),
        F.lit(1).alias("depth"),
        F.lit(NodeType.GROUP).cast("string").alias("node_type"),
        F.col("group_id").alias("node_name"),
        F.lit(None).cast("string").alias("leaf_value"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )
    new_ents = first_ents.select(
        "tree_id",
        F.concat(F.col("tree_id"), F.lit(":e"), F.col("ent_pos")).alias("node_id"),
        F.concat(F.col("tree_id"), F.lit(":g")).alias("parent_id"),
        F.col("ent_pos").alias("pos"),
        F.array(F.lit(0), F.col("ent_pos")).cast("array<int>").alias("path"),
        F.lit(2).alias("depth"),
        F.lit(NodeType.ENT).cast("string").alias("node_type"),
        "node_name",
        F.lit(None).cast("string").alias("leaf_value"),
        "metadata",
    )
    new_leaves = (
        first_ents.join(leaves, first_ents.node_id == leaves.ent_ref, "inner")
        .select(
            "tree_id",
            F.concat(F.col("tree_id"), F.lit(":e"), F.col("ent_pos"), F.lit("."), F.col("leaf_pos")).alias("node_id"),
            F.concat(F.col("tree_id"), F.lit(":e"), F.col("ent_pos")).alias("parent_id"),
            F.col("leaf_pos").alias("pos"),
            F.array(F.lit(0), F.col("ent_pos"), F.col("leaf_pos")).cast("array<int>").alias("path"),
            F.lit(3).alias("depth"),
            F.lit(None).cast("string").alias("node_type"),
            F.lit(None).cast("string").alias("node_name"),
            F.col("lv").alias("leaf_value"),
            F.lit(None).cast("map<string,string>").alias("metadata"),
        )
    )
    rewritten = root.unionByName(group).unionByName(new_ents).unionByName(new_leaves)
    untouched = nodes.join(unlabelled, "tree_id", "left_anti")
    return untouched.unionByName(rewritten)


def find_groups(nodes: DataFrame, assignments: DataFrame, min_support: int) -> DataFrame:
    """Convert frequent-cluster member subtrees into GROUP nodes
    (``find_groups`` / ``create_group``,
    ``simplification/tree_rewriting/__init__.py:636-706``).

    ``assignments``: (node_id, cluster_name, support) from
    :mod:`architxt_spark.similarity`.  A member subtree is converted when
    support > min_support, it has ≥2 children, its parent is not a GROUP,
    all children are ENT, and entities are unique; conversion relabels to
    ``GROUP::<cluster>`` and keeps only ENT children (existing GROUPs are
    renamed only).  Set-based: joins + relabels, no UDF.
    """
    frequent = assignments.filter(F.col("support") > min_support).select(
        F.col("node_id").alias("m_id"), "cluster_name"
    )

    children = (
        nodes.filter(F.col("node_name").isNotNull())
        .groupBy(F.col("parent_id").alias("pc_id"))
        .agg(
            F.count("*").alias("n_children"),
            F.sum(F.when(F.col("node_type") == NodeType.ENT, 1).otherwise(0)).alias("n_ent"),
            F.count_distinct(
                F.when(F.col("node_type") == NodeType.ENT, F.col("node_name"))
            ).alias("n_ent_names"),
        )
    )
    parents = nodes.select(F.col("node_id").alias("p_id"), F.col("node_type").alias("p_type"))

    eligible = (
        nodes.join(frequent, nodes.node_id == frequent.m_id, "inner")
        .join(children, F.col("node_id") == F.col("pc_id"), "left")
        .join(parents, F.col("parent_id") == F.col("p_id"), "left")
        .filter(
            (F.col("n_children") >= 2)
            & (F.col("n_children") == F.col("n_ent"))
            & (F.col("n_ent_names") == F.col("n_ent"))
            & (F.coalesce(F.col("p_type"), F.lit("")) != NodeType.GROUP)
        )
        .select(F.col("node_id").alias("conv_id"), F.col("cluster_name").alias("new_name"))
    )

    out = (
        nodes.join(eligible, nodes.node_id == eligible.conv_id, "left")
        .withColumn(
            "node_type",
            F.when(F.col("conv_id").isNotNull(), F.lit(NodeType.GROUP)).otherwise(F.col("node_type")),
        )
        .withColumn(
            "node_name",
            F.when(F.col("conv_id").isNotNull(), F.col("new_name")).otherwise(F.col("node_name")),
        )
        .drop("conv_id", "new_name")
    )
    return out


#: Ordered op chain (``DEFAULT_OPERATIONS``,
#: ``simplification/tree_rewriting/__init__.py:45-53``).  FindSubGroups /
#: MergeGroups need the per-iteration cluster-signature index — they are
#: bound in :func:`rewrite` via closures over the broadcastable index.
DEFAULT_OPERATIONS: tuple[tuple[str, Callable[[PyTree], bool]], ...] = (
    ("find_collections", pytree_ops.find_collections),
    ("find_relations", pytree_ops.find_relations),
    ("find_collections_2", pytree_ops.find_collections),
    ("reduce_bottom", pytree_ops.reduce_bottom),
    ("reduce_top", pytree_ops.reduce_top),
)


#: ops that can mutate a tree while returning False (rename-only side
#: effects) — the only non-winners the real chain pass must re-run
RENAME_SIDE_EFFECT_OPS = frozenset(
    {"find_collections", "find_collections_2", "find_relations"}
)


def _operations_with_index(
    index: dict, min_support: int
) -> list[tuple[str, Callable[[PyTree], bool]]]:
    """The full reference chain [FindSubGroups, MergeGroups,
    FindCollections, FindRelations, FindCollections, ReduceBottom,
    ReduceTop] with the combinatorial ops bound to this iteration's
    cluster index (closures ship to executors via cloudpickle; the index
    is vocabulary-bounded)."""

    def fsg(t: PyTree) -> bool:
        return pytree_ops.find_subgroups(t, index, min_support)

    def mg(t: PyTree) -> bool:
        return pytree_ops.merge_groups(t, index, min_support)

    return [("find_subgroups", fsg), ("merge_groups", mg), *DEFAULT_OPERATIONS]


def simplify_names(nodes: DataFrame) -> DataFrame:
    """``_simplify_names`` (``tree_rewriting/__init__.py:262-308``) as three
    join-based relabels:

    1. GROUP names lose their ``_<digits>`` suffix; distinct originals
       colliding on one base get deterministic ``base``, ``base_1``, …
       numbering (driver-side map over the tiny distinct-name set);
    2. every REL is renamed ``A<->B`` from its (sorted) member group names;
    3. every COLL is renamed after its member label.
    """
    import re

    distinct_groups = [
        r["node_name"]
        for r in nodes.filter(F.col("node_type") == NodeType.GROUP)
        .select("node_name")
        .distinct()
        .collect()
    ]
    # strip REPEATED _<digits> suffixes and map all-digit base names to
    # 'UndefinedGroup' (``_get_base_name``: 'Territories_1_5_2' →
    # 'Territories'; simple_rewrite's numeric group ids → 'UndefinedGroup')
    by_base: dict[str, list[str]] = {}
    for name in sorted(distinct_groups):
        base = re.sub(r"(_\d+)+$", "", name)
        if re.fullmatch(r"\d*", base):
            base = "UndefinedGroup"
        by_base.setdefault(base, []).append(name)
    group_map: dict[str, str] = {}
    for base, names in by_base.items():
        for i, name in enumerate(names):
            group_map[name] = base if i == 0 else f"{base}_{i}"

    if group_map:
        mapping = F.create_map(*[F.lit(x) for kv in group_map.items() for x in kv])
        nodes = nodes.withColumn(
            "node_name",
            F.when(
                (F.col("node_type") == NodeType.GROUP)
                & mapping[F.col("node_name")].isNotNull(),
                mapping[F.col("node_name")],
            ).otherwise(F.col("node_name")),
        )

    # REL := "A<->B" from sorted member GROUP names; COLL := member label.
    member_names = (
        nodes.filter(F.col("node_name").isNotNull())
        .groupBy(F.col("parent_id").alias("pid"))
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_set(
                        F.when(F.col("node_type") == NodeType.GROUP, F.col("node_name"))
                    )
                ),
                "<->",
            ).alias("rel_name"),
            F.max(F.col("node_name")).alias("member_name"),
        )
    )
    nodes = (
        nodes.join(member_names, nodes.node_id == member_names.pid, "left")
        .withColumn(
            "node_name",
            F.when(
                (F.col("node_type") == NodeType.REL) & (F.col("rel_name") != ""),
                F.col("rel_name"),
            )
            .when(
                (F.col("node_type") == NodeType.COLL) & F.col("member_name").isNotNull(),
                F.col("member_name"),
            )
            .otherwise(F.col("node_name")),
        )
        .drop("pid", "rel_name", "member_name")
    )
    return nodes


def rewrite(
    nodes: DataFrame,
    *,
    tau: float = 0.7,
    min_support: int | None = None,
    epoch: int = 100,
    operations: Iterable[tuple[str, Callable[[PyTree], bool]]] | None = None,
    on_iteration: Callable[[dict], None] | None = None,
    on_stage: Callable[[int, str, float], None] | None = None,
) -> DataFrame:
    """Iterative fixpoint rewrite (``rewrite()``,
    ``simplification/tree_rewriting/__init__.py:56-168``).

    Per iteration: reduce_all({ENT}) → cluster → find_groups → op chain with
    early-exit at the first op that changed anything.  Stops when an
    iteration simplifies nothing or after ``epoch`` iterations.

    ``on_iteration`` receives a metrics dict per iteration (iteration
    index, winning operation, trees changed, per-type node census) — the
    reference's per-iteration MLflow logging (``metrics.py:414-473``,
    ``tree_rewriting/__init__.py:109-122``); hand it
    ``mlflow.log_metrics``-shaped sinks, a ``list.append``, or a JSONL
    writer.  The census is ONE extra aggregation per iteration, only paid
    when a callback is installed; it re-runs the iteration's chain lazily
    over the landed reduce output, so the loop the callback observes is
    the loop that runs without it.

    ``on_stage`` receives ``(iteration, stage_name, seconds)`` wall-clock
    timings per iteration stage (reduce / cluster / probe) — every stage
    ends in an eager barrier or a driver collect, so the timers measure
    real execution (``tools/rewriteprof.py``).
    """
    from time import perf_counter

    from architxt_spark.similarity import find_groups_in_tree, signature_index

    def timed(iteration: int, name: str, fn):
        if on_stage is None:
            return fn()
        t0 = perf_counter()
        out = fn()
        on_stage(iteration, name, perf_counter() - t0)
        return out

    # materialize once: a one-shot iterable would be exhausted after the
    # first iteration's list() and silently end the loop early
    if operations is not None:
        operations = list(operations)

    n_trees = nodes.select("tree_id").distinct().count()
    if min_support is None:
        min_support = max(n_trees // 10, 2)

    def census(frame: DataFrame) -> dict:
        types = (NodeType.ENT, NodeType.GROUP, NodeType.REL, NodeType.COLL)
        row = frame.agg(
            F.count("*").alias("n_nodes"),
            *[
                F.sum((F.col("node_type") == t).cast("long")).alias(f"n_{t.lower()}")
                for t in types
            ],
            *[
                F.countDistinct(
                    F.when(F.col("node_type") == t, F.col("node_name"))
                ).alias(f"n_distinct_{t.lower()}")
                for t in types
            ],
            F.sum(
                (
                    F.col("node_type").isNull()
                    & F.col("parent_id").isNotNull()
                    & F.col("node_name").isNotNull()
                ).cast("long")
            ).alias("n_unlabeled"),
        ).collect()[0]
        return row.asDict()

    # Deferred chain fns: iteration k's winning-op chain is not run as its
    # own Arrow pass — it is fused into iteration k+1's reduce pass (both
    # are per-tree PyTree transforms, and reduce(chain(x)) over one
    # serialize/deserialize round-trip ≡ the two separate passes), or into
    # the post pass after the last iteration.
    pending: list[Callable[[PyTree], bool]] = []

    for iteration in range(epoch):
        def run_reduce(t: PyTree, _fns=tuple(pending)) -> None:
            for fn in _fns:
                fn(t)
            pytree_ops.reduce_all(t, {NodeType.ENT})

        # Materialize once: the reduce output feeds clustering, the probe
        # pass and the deferred chain — without the checkpoint the Arrow
        # reduce pass re-executes for each of them (measured 3x per
        # iteration).
        nodes = timed(
            iteration, "reduce",
            lambda: apply_tree_op(nodes, run_reduce).transform(stage_barrier),
        )

        sig_index = timed(
            iteration, "cluster", lambda: signature_index(nodes, tau=tau)
        )

        ops = (
            list(operations)
            if operations is not None
            else _operations_with_index(sig_index, min_support)
        )

        # find_groups is FUSED into the per-tree passes (r10): its
        # eligibility is tree-local given the broadcast signature index
        # (``similarity.find_groups_in_tree``), so the join pipeline +
        # checkpoint it used to materialize per iteration (~40% of the
        # iteration at 2.5k trees) is replaced by an in-place transform
        # at the head of the probe pass and of the deferred chain.
        def fg(t: PyTree, _idx=sig_index, _ms=min_support) -> bool:
            return find_groups_in_tree(t, _idx, _ms)

        # one probe pass finds the early-exit winner; the real pass then
        # runs the chain up to AND including the winner (reference
        # sequential chain ``:566-582``) so that rename-only mutations
        # from non-winning ops persist.  Non-winning ops WITHOUT rename
        # side effects provably changed nothing (the probe said so) and
        # are skipped; only find_collections (renames existing COLLs,
        # reference collections.py:45-47) and find_relations (relabels an
        # existing REL, relations.py:78) can mutate while reporting no
        # change.  When no op reports a change the rename-capable ops
        # still run once: the reference executes every op in the final
        # iteration too, and their rename side effects feed the
        # post-process naming.
        counts = timed(iteration, "probe", lambda: probe_ops(nodes, ops, pre=fg))
        winner = next((i for i, n in enumerate(counts) if n), None)

        upto = ops if winner is None else ops[: winner + 1]
        # fg leads so the chain sees the post-find_groups state the probe
        # probed
        pending = [
            fg,
            *(
                f
                for i, (name, f) in enumerate(upto)
                if i == winner or name in RENAME_SIDE_EFFECT_OPS
            ),
        ]

        if on_iteration is not None:
            def run_chain(t: PyTree, _fns=tuple(pending)) -> None:
                for fn in _fns:
                    fn(t)

            on_iteration(
                dict(
                    iteration=iteration,
                    operation=ops[winner][0] if winner is not None else None,
                    trees_changed=counts[winner] if winner is not None else 0,
                    # the reference's run params (tree_rewriting:110-122),
                    # logged once by mlflow-shaped sinks
                    params=dict(
                        nb_sentences=n_trees,
                        tau=tau,
                        epoch=epoch,
                        min_support=min_support,
                        edit_ops=", ".join(name for name, _ in ops),
                    ),
                )
                # the census must see find_groups' conversions and the
                # chain's effects: one lazy aggregation over the chain
                # pass, which stays deferred for the loop itself
                | census(apply_tree_op(nodes, run_chain))
            )

        if winner is None:
            break

    # post-process naming passes (``_post_process``, ``:227-259``) — both
    # are per-tree independent, so they fuse into ONE applyInPandas pass,
    # together with any chain fns the last iteration deferred
    def post(t: PyTree, _fns=tuple(pending)) -> None:
        for fn in _fns:
            fn(t)
        pytree_ops.find_relations(t, naming_only=True)
        pytree_ops.find_collections(t, naming_only=True)

    nodes = apply_tree_op(nodes, post).transform(stage_barrier)

    return simplify_names(nodes)
