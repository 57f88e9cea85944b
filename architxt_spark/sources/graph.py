"""Property-graph → meta-model loader (the reference's ``read_cypher``).

Mirrors ``architxt/database/loader/cypher.py:17-135``:

- root nodes = nodes with **no incoming edges** (the reference runs
  ``MATCH (n) WHERE not ()-[]->(n)``, ``loader/cypher.py:24-31``) — here a
  LEFT ANTI join of the node frame against the relationship targets;
- one tree per root node, built by a **BFS over relationships**
  (``loader/cypher.py:52-99``) with each node visited at most once per tree;
- every visited node becomes ``(GROUP::<label> (ENT::<prop> value)…)``;
  every traversed edge becomes ``REL::<src_label><-><dst_label>`` holding
  copies of both endpoint groups (copies share the endpoint's OID, like the
  relational loader's REL children);
- an edge **with properties is reified** (``loader/cypher.py:124-131``):
  the edge becomes ``GROUP::<rel_type>`` holding its properties, plus one
  REL per endpoint — ``REL::<src_label><-><rel_type>`` and
  ``REL::<rel_type><-><dst_label>``.

The reference drives this with one Cypher round-trip per BFS step per tree.
Here the whole forest advances one BFS *level* at a time: a single join of
the frontier against the relationship frame per level, an anti-join against
the reached set for visited-once semantics, and a deterministic
first-edge-wins rule (ordered by ``(rel_type, src)``) when two edges reach
the same node in one level — so the output is reproducible, which the
row-at-a-time reference gets for free from its sequential loop.

Input shape matches what a Spark graph connector produces: a node frame
``(id, label, <property columns…>)`` and a relationship frame
``(src, dst, rel_type, <property columns…>)``.  There is no Neo4j in this
environment, so tests build these frames from parquet; against a live graph
the same frames come from the connector's node/relationship reads.

Scale notes: each BFS level is one shuffle join keyed on the frontier node
id, plus one anti-join on the reached set — O(depth) shuffles total, not
O(trees × nodes) queries.  Frontiers are ``localCheckpoint()``ed per level
so the plan stays linear in depth.  Emission is the same zero-UDF
explode-of-conditional-structs as the relational loader, and the per-tree
position assignment is one window over the child descriptors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from architxt_spark.model import NODE_SCHEMA
from architxt_spark.session import held, stage_barrier


def get_root_nodes(nodes: DataFrame, rels: DataFrame) -> DataFrame:
    """Nodes with no incoming relationship (``loader/cypher.py:24-31``).

    Falls back to the max-out-degree node when every node has an incoming
    edge (a cycle) — the same tie-break the relational loader uses for FK
    cycles (``loader/sql.py:69-102``).
    """
    roots = nodes.join(rels.select(F.col("dst").alias("id")), "id", "left_anti")
    # Materialized once: the result feeds the emptiness check here, the BFS
    # frontier, and the ROOT-row emission — one anti-join job, not three.
    # The LAZY checkpoint is computed by the emptiness count itself, so
    # materialization and the probe share one job (r15).
    roots = stage_barrier(roots, eager=False)
    if roots.count() == 0:
        deg = rels.groupBy(F.col("src").alias("id")).count()
        top = deg.orderBy(F.desc("count"), "id").limit(1).select("id")
        roots = nodes.join(top, "id", "left_semi")
    return roots


def _oid(kind: str, namespace: str, *cols: Column) -> Column:
    parts = [F.lit(namespace), F.lit(kind), *[c.cast("string") for c in cols]]
    return F.sha2(F.concat_ws("\x1f", *parts), 256)


def _traverse(roots: DataFrame, rels: DataFrame, max_depth: int) -> tuple[DataFrame, DataFrame]:
    """Level-synchronous BFS.

    Returns ``(reached, edges)``: ``reached (tree_id, nid, bfs_depth)`` has
    one row per node visited per tree (roots included); ``edges (tree_id,
    src, dst, rel_type, <edge props…>, bfs_depth)`` one row per traversed
    edge.
    """
    frontier = roots.select("tree_id", F.col("id").alias("nid"), F.lit(0).alias("bfs_depth"))
    reached = frontier
    edge_levels: list[DataFrame] = []

    # The relationship frame is probed once per BFS level; without holding
    # it, every level re-runs its upstream plan (at 100 TB: a full edge-set
    # scan per level).  Caching the edge frame across an iterative
    # traversal is the standard shape (GraphX does the same; the default
    # storage level spills to disk); the first level's join materializes
    # it, later levels read blocks.  Releasing it when the block closes is
    # safe: every surviving frame is built from eagerly checkpointed
    # per-level steps, not from ``rels``.
    with held(rels):
        for depth in range(1, max_depth + 1):
            step = (
                frontier.select("tree_id", "nid")
                .join(rels, rels["src"] == F.col("nid"))
                .drop("nid")
                .join(
                    reached.select("tree_id", F.col("nid").alias("dst")),
                    ["tree_id", "dst"],
                    "left_anti",
                )
            )
            # Visited-once: when several edges reach the same node in one
            # level, the lowest (rel_type, src) wins — a deterministic
            # stand-in for the reference's sequential first-come-first-served
            # BFS queue.  A hash aggregate with min_by (map-side partial
            # combine, no sort) replaces the earlier row_number window: same
            # result on unique (rel_type, src, dst) edges, one shuffle of
            # pre-combined groups instead of a full sort of the level.
            payload = [c for c in step.columns if c not in ("tree_id", "dst")]
            step = (
                step.groupBy("tree_id", "dst")
                .agg(
                    F.min_by(
                        F.struct(*[F.col(c) for c in payload]),
                        F.struct("rel_type", "src"),
                    ).alias("__e")
                )
                .select("tree_id", "dst", "__e.*")
                .withColumn("bfs_depth", F.lit(depth))
            )
            # ONE job materializes the level AND answers the emptiness
            # probe (r15): a LAZY checkpoint is computed by the count()
            # that the loop needs anyway — the former eager-barrier +
            # isEmpty pair paid two scheduled jobs per BFS level.
            step = stage_barrier(step, eager=False)
            if step.count() == 0:
                break
            edge_levels.append(step)
            frontier = step.select("tree_id", F.col("dst").alias("nid"), "bfs_depth")
            # reached stays a lazy union of checkpointed frontiers — shallow
            # lineage, no extra materialization pass per level.
            reached = reached.unionByName(frontier)

    if edge_levels:
        edges = edge_levels[0]
        for e in edge_levels[1:]:
            edges = edges.unionByName(e)
    else:
        edges = (
            rels.withColumn("tree_id", F.lit(None).cast("string"))
            .withColumn("bfs_depth", F.lit(0))
            .limit(0)
        )
    return reached, edges


def _path_id(tree_id: Column, path: Column) -> Column:
    return F.concat(tree_id, F.lit(":"), F.concat_ws(".", path.cast("array<string>")))


def _node_struct(path: Column, pos: Column, ntype, nname, leaf, meta) -> Column:
    """One NODE_SCHEMA row as a struct (explode-of-conditional-structs
    building block, like the relational loader)."""
    tree_id = F.col("tree_id")
    return F.struct(
        tree_id.alias("tree_id"),
        _path_id(tree_id, path).alias("node_id"),
        _path_id(tree_id, F.slice(path, 1, F.size(path) - 1)).alias("parent_id"),
        pos.cast("int").alias("pos"),
        path.cast("array<int>").alias("path"),
        F.size(path).cast("int").alias("depth"),
        F.lit(ntype).cast("string").alias("node_type"),
        nname.cast("string").alias("node_name"),
        leaf.cast("string").alias("leaf_value"),
        meta.cast("map<string,string>").alias("metadata"),
    )


def _group_structs(
    gpath: Column, gname: Column, goid: Column, vals: list[tuple[str, Column]]
) -> list[Column]:
    """``(GROUP::<gname> (ENT::<prop> value)…)`` as a struct list at
    ``gpath``: the GROUP node plus, per non-null property, an ENT node and
    its leaf.  A null property leaves a ``pos`` gap (the relational
    loader's stable-column-index deviation)."""
    structs = [
        _node_struct(
            gpath,
            F.element_at(gpath, -1),
            "GROUP",
            gname,
            F.lit(None),
            F.create_map(F.lit("oid"), goid),
        )
    ]
    for i, (p, val) in enumerate(vals):
        ent_path = F.concat(gpath, F.array(F.lit(i)))
        ent = _node_struct(ent_path, F.lit(i), "ENT", F.lit(p), F.lit(None), F.lit(None))
        leaf = _node_struct(
            F.concat(ent_path, F.array(F.lit(0))), F.lit(0), None, F.lit(None), val, F.lit(None)
        )
        structs.append(F.when(val.isNotNull(), ent))
        structs.append(F.when(val.isNotNull(), leaf))
    return structs


#: memoized emission expressions keyed by (applicationId, namespace,
#: node_props, rel_props) — see :func:`_emission_array`
_EMISSION_CACHE: dict = {}


def _emission_array(
    app_id: str, namespace: str, node_props: tuple, rel_props: tuple
) -> Column:
    """The per-child-row emission expression: a conditional struct array
    over ``(__kind, __attributed, __sub)``, exploded by :func:`read_graph`.

    The tree is a pure function of the property NAMES (every data
    reference is an unresolved ``F.col``), yet building it costs ~2 s of
    py4j round-trips per call (~33 ten-field structs) — measured as the
    single largest driver-side term of a ``read_graph`` call, with zero
    cluster work.  Memoized per (application, namespace, schema) so
    repeated loads reuse the unresolved tree; keyed on the application id
    because a restarted JVM invalidates the wrapped java objects."""
    key = (app_id, namespace, node_props, rel_props)
    cached = _EMISSION_CACHE.get(key)
    if cached is not None:
        return cached
    # a new application invalidates every wrapped java reference — evict
    # dead-app entries instead of accumulating them across restarts
    for stale in [k for k in _EMISSION_CACHE if k[0] != app_id]:
        del _EMISSION_CACHE[stale]

    node_oid = _oid("node", namespace, F.col("nid"))
    src_oid = _oid("node", namespace, F.col("src"))
    dst_oid = _oid("node", namespace, F.col("dst"))
    nvals = [(p, F.col(p)) for p in node_props]
    svals = [(p, F.col(f"src__{p}")) for p in node_props]
    dvals = [(p, F.col(f"dst__{p}")) for p in node_props]
    evals = [(p, F.col(p)) for p in rel_props]
    eoid = _oid("edge", namespace, F.col("rel_type"), F.col("src"), F.col("dst"))
    at = F.array(F.col("cpos"))
    at0 = F.array(F.col("cpos"), F.lit(0))
    at1 = F.array(F.col("cpos"), F.lit(1))

    def rel_struct(left: Column, right: Column) -> Column:
        name = F.concat(left, F.lit("<->"), right)
        return _node_struct(
            at,
            F.col("cpos"),
            "REL",
            name,
            F.lit(None),
            F.create_map(
                F.lit("oid"), _oid("rel", namespace, name, F.col("src"), F.col("dst")),
                F.lit("type"), F.col("rel_type"),
            ),
        )

    src_l, dst_l, rel_t = F.col("src_label"), F.col("dst_label"), F.col("rel_type")
    branches = [
        # visited node: its GROUP subtree at [cpos]
        (F.col("__kind") == 0, _group_structs(at, F.col("label"), node_oid, nvals)),
        # plain edge: REL::<src><-><dst> + both endpoint-copy subtrees
        (
            ~F.col("__attributed"),
            [rel_struct(src_l, dst_l)]
            + _group_structs(at0, src_l, src_oid, svals)
            + _group_structs(at1, dst_l, dst_oid, dvals),
        ),
        # reified edge, child 0: GROUP::<rel_type> holding the edge props
        (F.col("__sub") == 0, _group_structs(at, rel_t, eoid, evals)),
        # reified edge, child 1: REL::<src><-><rel_type> (src copy + edge copy)
        (
            F.col("__sub") == 1,
            [rel_struct(src_l, rel_t)]
            + _group_structs(at0, src_l, src_oid, svals)
            + _group_structs(at1, rel_t, eoid, evals),
        ),
        # reified edge, child 2: REL::<rel_type><-><dst> (edge copy + dst copy)
        (
            F.col("__sub") == 2,
            [rel_struct(rel_t, dst_l)]
            + _group_structs(at0, rel_t, eoid, evals)
            + _group_structs(at1, dst_l, dst_oid, dvals),
        ),
    ]
    arr = None
    for cond, structs in reversed(branches):
        a = F.array(*structs)
        arr = a if arr is None else F.when(cond, a).otherwise(arr)
    arr = F.filter(arr, lambda x: x.isNotNull())
    _EMISSION_CACHE[key] = arr
    return arr


def read_graph(
    nodes: DataFrame,
    rels: DataFrame,
    *,
    namespace: str = "graph",
    max_depth: int = 10,
    sample: int = 0,
) -> DataFrame:
    """Load a property graph into the node table (``read_cypher``,
    ``loader/cypher.py:17-135``).

    ``nodes``: ``(id, label, <props…>)``; ``rels``: ``(src, dst, rel_type,
    <props…>)``.  Returns the canonical node table, one tree per root node.
    """
    node_props = [c for c in nodes.columns if c not in ("id", "label")]
    rel_props = [c for c in rels.columns if c not in ("src", "dst", "rel_type")]

    roots = get_root_nodes(nodes, rels)
    if sample:
        roots = roots.orderBy("id").limit(sample)
    roots = roots.select("id").withColumn("tree_id", _oid("tree", namespace, F.col("id")))

    reached, edges = _traverse(roots, rels, max_depth)

    visited = reached.join(nodes, reached["nid"] == nodes["id"]).select(
        "tree_id", "nid", "bfs_depth", "label", *node_props
    )
    src_n = nodes.select(
        F.col("id").alias("src"),
        F.col("label").alias("src_label"),
        *[F.col(p).alias(f"src__{p}") for p in node_props],
    )
    dst_n = nodes.select(
        F.col("id").alias("dst"),
        F.col("label").alias("dst_label"),
        *[F.col(p).alias(f"dst__{p}") for p in node_props],
    )
    edges = edges.join(src_n, "src").join(dst_n, "dst")
    prop_flags = [F.col(p).isNotNull() for p in rel_props]
    has_props = prop_flags[0] if len(prop_flags) == 1 else (
        F.greatest(*prop_flags) if prop_flags else F.lit(False)
    )
    edges = edges.withColumn("__attributed", F.coalesce(has_props, F.lit(False)))

    # --- position of each ROOT child subtree -------------------------------
    # Children: one group per visited node, then per traversed edge its REL
    # subtree(s) — three children for an attributed edge — ordered by
    # (kind, BFS depth, id, sub-index).  The payload columns of every branch
    # ride along in ONE unified frame (unionByName allowMissingColumns; the
    # branches are row-disjoint, so shared column names cannot clash), the
    # position window runs once partitioned by tree, and the result is
    # checkpointed once.  Every emission branch below is then a FILTER of
    # this frame — the previous shape joined a separate pos_of frame back
    # into each of 5+3 branches, and those 8 shuffle-join stages dominated
    # wall-clock at small SF while buying nothing at scale.
    def skey(kind: int, d: Column, a: Column, sub: int) -> Column:
        return F.struct(
            F.lit(kind).alias("k"), d.alias("d"), a.cast("string").alias("a"), F.lit(sub).alias("s")
        )

    edge_key = F.concat_ws("\x1f", "rel_type", "src", "dst")
    plain = edges.filter(~F.col("__attributed"))
    attr = edges.filter(F.col("__attributed"))
    branches = [
        visited.withColumn("skey", skey(0, F.col("bfs_depth"), F.col("nid"), 0)).withColumn(
            "__kind", F.lit(0)
        ).withColumn("__sub", F.lit(0))
    ]
    for df, sub in ((plain, 0), (attr, 0), (attr, 1), (attr, 2)):
        branches.append(
            df.withColumn("skey", skey(1, F.col("bfs_depth"), edge_key, sub))
            .withColumn("__kind", F.lit(1))
            .withColumn("__sub", F.lit(sub))
        )
    children = branches[0]
    for b in branches[1:]:
        children = children.unionByName(b, allowMissingColumns=True)
    children = (
        children.withColumn(
            "cpos", F.row_number().over(Window.partitionBy("tree_id").orderBy("skey")) - 1
        )
        .drop("skey")
        .transform(stage_barrier)
    )

    # --- emission ----------------------------------------------------------
    # ONE pass over the checkpointed children frame: per row, the emitted
    # node set is a function of (__kind, __attributed, __sub) alone, so a
    # single conditional struct array + explode replaces the previous
    # 8-branch union (each branch re-filtered and re-exploded the
    # checkpoint: 8 scans, a 3× larger plan, and a wider final job — the
    # fused form measured the same rows from one scan).  Roots stay a
    # separate (tiny) union branch.
    root_rows = roots.select(
        "tree_id",
        F.concat(F.col("tree_id"), F.lit(":")).alias("node_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit(0).alias("pos"),
        F.array().cast("array<int>").alias("path"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("node_type"),
        F.lit("ROOT").alias("node_name"),
        F.lit(None).cast("string").alias("leaf_value"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )

    arr = _emission_array(
        children.sparkSession.sparkContext.applicationId,
        namespace,
        tuple(node_props),
        tuple(rel_props),
    )
    emitted = children.select(F.explode(arr).alias("n")).select("n.*")

    result = root_rows.unionByName(emitted)
    return result.select([f.name for f in NODE_SCHEMA.fields])
