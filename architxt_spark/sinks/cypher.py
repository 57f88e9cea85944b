"""Property-graph exporter
(``architxt/database/export/cypher.py:17-176`` re-expressed Spark-first).

Produces the two frame shapes the neo4j-spark-connector writes natively
(node frames per group, relationship frames per relation), applies the
collapsible-group optimization (a group on the "one" side of exactly two
1-n relations becomes an attributed edge,
``architxt/schema.py:442-501``), and can render a deterministic MERGE
script for small exports / tests — the connector write is the scale path.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from architxt_spark.plans.schema import SchemaPlan
from architxt_spark.session import stage_barrier
from architxt_spark.sinks.sql import OID_COL, group_frames, relation_pairs

# (middle group, relation 1, end 1, relation 2, end 2) of a collapsed edge
_Edge = tuple[str, str, str, str, str]


def _edge_plan(schema: SchemaPlan, collapsed: set[str]) -> tuple[list[_Edge], list[str]]:
    """Driver-side: the collapsed edges A ← M → B and the plain relations
    (those touching no collapsible group)."""
    rels_by_group: dict[str, list] = {}
    for rel in schema.relations:
        rels_by_group.setdefault(rel.left, []).append(rel)
        rels_by_group.setdefault(rel.right, []).append(rel)

    edges: list[_Edge] = []
    done_rels = set()
    for mid in sorted(collapsed):
        touching = [r for r in rels_by_group.get(mid, []) if r.name not in done_rels]
        if len(touching) != 2:
            continue
        (r1, r2) = sorted(touching, key=lambda r: r.name)
        end1 = r1.left if r1.right == mid else r1.right
        end2 = r2.left if r2.right == mid else r2.right
        edges.append((mid, r1.name, end1, r2.name, end2))
        done_rels.update({r1.name, r2.name})
    plain = [
        rel.name
        for rel in sorted(schema.relations, key=lambda r: r.name)
        if rel.name not in done_rels and rel.left not in collapsed and rel.right not in collapsed
    ]
    return edges, plain


def _relationship_frames(
    nodes: DataFrame, edges: list[_Edge], plain: list[str], props: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Edge frames over ONE landed REL-pair frame for every relation used;
    ``props`` holds (at least) each collapsed middle group's frame."""
    if not (edges or plain):
        return {}
    names = {e[1] for e in edges} | {e[3] for e in edges} | set(plain)
    pairs = stage_barrier(relation_pairs(nodes, names))

    def rel_pairs(name: str) -> DataFrame:
        return pairs.filter(F.col("rel_name") == name).drop("rel_name")

    def mid_side(rel_name: str, mid: str, end: str) -> DataFrame:
        p = rel_pairs(rel_name)
        a = p.filter(F.col("left_group") == mid).select(
            F.col("left_oid").alias("mid_oid"), F.col("right_oid").alias(f"{end}_oid")
        )
        b = p.filter((F.col("right_group") == mid) & (F.col("left_group") == end)).select(
            F.col("right_oid").alias("mid_oid"), F.col("left_oid").alias(f"{end}_oid")
        )
        return a.unionByName(b)

    out: dict[str, DataFrame] = {}
    for mid, rel1, end1, rel2, end2 in edges:
        mid_props = props[mid]
        out[f"{end1}-[{mid}]->{end2}"] = (
            mid_side(rel1, mid, end1)
            .join(mid_side(rel2, mid, end2), "mid_oid")
            .join(mid_props, F.col("mid_oid") == mid_props[OID_COL], "left")
            .drop(OID_COL)
        )

    for name in plain:
        out[name] = rel_pairs(name)
    return out


def cypher_frames(
    nodes: DataFrame, schema: SchemaPlan
) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
    """The node and relationship frames of a whole export.

    - Node frames: one per NON-collapsible group, (oid PK + entity
      property columns) — writable with the connector's node mode
      (``MERGE`` on the indexed ``_architxt_oid``,
      ``export/cypher.py:75-104``).
    - Relationship frames: plain relations → (left_oid, right_oid)
      edges; a collapsible middle group M (A ← M → B) becomes ONE
      attributed edge frame A-[M {entity props}]->B
      (``export/cypher.py:106-134``).

    One landed group-instance frame
    (:func:`~architxt_spark.sinks.sql.group_frames`) serves both the node
    frames and the collapsed edges' properties, and one landed REL-pair
    frame serves every edge frame."""
    collapsed = schema.find_collapsible_groups()
    frames = group_frames(nodes, schema)
    edges, plain = _edge_plan(schema, collapsed)
    node_frames = {g: df for g, df in frames.items() if g not in collapsed}
    return node_frames, _relationship_frames(nodes, edges, plain, frames)


def export_cypher_script(
    nodes: DataFrame, schema: SchemaPlan, *, max_rows: int = 10000
) -> list[str]:
    """Deterministic MERGE statements for small exports / tests.  Collects
    at most ``max_rows`` per frame — the scale path is the connector write
    of the same frames."""
    stmts: list[str] = []
    node_frames, rel_frames = cypher_frames(nodes, schema)
    for gname, frame in node_frames.items():
        cols = [c for c in frame.columns if c != OID_COL]
        for row in frame.orderBy(OID_COL).limit(max_rows).collect():
            props = {OID_COL: row[OID_COL]}
            props.update({c: row[c] for c in cols if row[c] is not None})
            stmts.append(f"MERGE (n:`{gname}` {{`{OID_COL}`: {json.dumps(row[OID_COL])}}}) SET n += {json.dumps(props)}")
    for rname, frame in rel_frames.items():
        cols = frame.columns
        if "left_oid" in cols:  # plain relation frame
            for row in frame.orderBy("left_oid", "right_oid").limit(max_rows).collect():
                stmts.append(
                    f"MATCH (a {{`{OID_COL}`: {json.dumps(row['left_oid'])}}}), "
                    f"(b {{`{OID_COL}`: {json.dumps(row['right_oid'])}}}) "
                    f"MERGE (a)-[:`{rname}`]->(b)"
                )
        else:  # collapsed attributed edge: <end1>_oid, <end2>_oid, props…
            oid_cols = [c for c in cols if c.endswith("_oid") and c != "mid_oid"]
            prop_cols = [c for c in cols if c not in oid_cols and c != "mid_oid"]
            for row in frame.orderBy(*oid_cols).limit(max_rows).collect():
                props = {c: row[c] for c in prop_cols if row[c] is not None}
                stmts.append(
                    f"MATCH (a {{`{OID_COL}`: {json.dumps(row[oid_cols[0]])}}}), "
                    f"(b {{`{OID_COL}`: {json.dumps(row[oid_cols[1]])}}}) "
                    f"MERGE (a)-[r:`{rname}`]->(b) SET r += {json.dumps(props)}"
                )
    return stmts
