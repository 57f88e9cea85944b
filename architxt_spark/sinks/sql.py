"""SQL exporter: schema DDL + FK-wired per-group DataFrames
(``architxt/database/export/sql.py:47-371`` re-expressed Spark-first).

The reference walks trees row-by-row with select-before-insert dedup
(``export/sql.py:303-371``).  Here :func:`export_sql_frames` reads the
forest at most twice, whatever the number of tables: it lands ONE
:func:`~architxt_spark.plans.schema.group_instances` frame (a long row per
group instance entity value) and ONE :func:`relation_pairs` frame (a row
per REL instance of every relation).  Each group table is then a filter
plus a pivot of the landed instances keyed by the group's deterministic
OID, with the schema's entity set as explicit pivot values — so its
columns are exactly :func:`schema_ddl`'s.  FK columns are joined in from
the landed pairs, and n-n relations become join-table frames over them.
At scale every frame goes out through ``df.write.jdbc`` (or Delta);
:func:`write_sqlite` is the driver-side test harness for environments
without a JDBC driver jar.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from architxt_spark.model import NodeType
from architxt_spark.plans.schema import (
    RelationOrientation,
    SchemaPlan,
    group_instances,
    pivot_instances,
)
from architxt_spark.session import stage_barrier

OID_COL = "_architxt_oid"


def _fk_col(target_group: str) -> str:
    return f"{target_group}{OID_COL}"


def _rel_sides(schema: SchemaPlan) -> list[tuple[str, str, str, str]]:
    """(rel_name, many_side, one_side, fk_col) for 1-n relations.

    ``Schema.from_forest`` marks a side ``is_multi`` when its member OIDs
    appear across ≥2 distinct pairs — that is the REFERENCED ("one") side
    (one region ↔ many nations).  Orientation LEFT ⇒ left is the "one"
    side ⇒ the FK column lives on the right ("many") table, and vice
    versa (``architxt/schema.py:156-212``, ``export/sql.py:113-162``)."""
    out = []
    for rel in sorted(schema.relations, key=lambda r: r.name):
        if rel.orientation == RelationOrientation.LEFT:
            out.append((rel.name, rel.right, rel.left, _fk_col(rel.left)))
        elif rel.orientation == RelationOrientation.RIGHT:
            out.append((rel.name, rel.left, rel.right, _fk_col(rel.right)))
    return out


def schema_ddl(schema: SchemaPlan, *, dialect: str = "ansi") -> list[str]:
    """CREATE TABLE statements: one table per group (OID primary key +
    VARCHAR entity columns, ``export/sql.py:68-111``), an FK column on the
    many side for 1-n relations, and a join table for n-n
    (``export/sql.py:113-162``)."""
    stmts: list[str] = []
    fk_cols: dict[str, list[tuple[str, str]]] = {}
    for _name, many, one, fk in _rel_sides(schema):
        fk_cols.setdefault(many, []).append((fk, one))

    for gname in sorted(schema.groups):
        cols = [f'"{OID_COL}" VARCHAR PRIMARY KEY']
        cols += [f'"{e}" VARCHAR' for e in sorted(schema.groups[gname])]
        for fk, one in fk_cols.get(gname, []):
            cols.append(f'"{fk}" VARCHAR REFERENCES "{one}" ("{OID_COL}")')
        stmts.append(f'CREATE TABLE "{gname}" ({", ".join(cols)})')

    for rel in sorted(schema.relations, key=lambda r: r.name):
        if rel.orientation == RelationOrientation.BOTH:
            assoc = f"{rel.left}_{rel.right}_assoc"
            stmts.append(
                f'CREATE TABLE "{assoc}" ('
                f'"{_fk_col(rel.left)}" VARCHAR REFERENCES "{rel.left}" ("{OID_COL}"), '
                f'"{_fk_col(rel.right)}" VARCHAR REFERENCES "{rel.right}" ("{OID_COL}"), '
                f'PRIMARY KEY ("{_fk_col(rel.left)}", "{_fk_col(rel.right)}"))'
            )
    return stmts


def group_frames(
    nodes: DataFrame, schema: SchemaPlan, groups: Iterable[str] | None = None
) -> dict[str, DataFrame]:
    """One frame per schema group (all when ``groups`` is None): one row
    per distinct group OID with entity columns (the keyed twin of
    ``extract_group_dataset`` — dedup by OID, ``export/sql.py:303-340``).
    All frames pivot ONE landed
    :func:`~architxt_spark.plans.schema.group_instances` frame: one forest
    pass at call time, then a filter plus a pivot per group whose columns
    are exactly the schema's (``schema_ddl``'s) entity columns."""
    names = sorted(schema.groups if groups is None else groups)
    if not names:
        return {}
    instances = stage_barrier(group_instances(nodes, names))
    return {
        g: pivot_instances(instances, g, sorted(schema.groups[g]), key="oid")
        .withColumnRenamed("oid", OID_COL)
        for g in names
    }


def relation_pairs(nodes: DataFrame, rel_names: Iterable[str]) -> DataFrame:
    """(rel_name, left_group, left_oid, right_group, right_oid) per REL
    instance of the named relations — the two GROUP children of each REL
    node, sides by child position.  One forest join covers every relation;
    callers filter by ``rel_name``."""
    rels = nodes.filter(
        (F.col("node_type") == NodeType.REL) & F.col("node_name").isin(sorted(rel_names))
    ).select(F.col("node_id").alias("rel_id"), F.col("node_name").alias("rel_name"))
    members = nodes.filter(F.col("node_type") == NodeType.GROUP).select(
        F.col("parent_id").alias("rel_ref"),
        F.col("pos").alias("m_pos"),
        F.col("node_name").alias("m_group"),
        F.coalesce(F.col("metadata").getItem("oid"), F.col("node_id")).alias("m_oid"),
    )
    joined = rels.join(members, rels.rel_id == members.rel_ref, "inner")
    w = Window.partitionBy("rel_id").orderBy("m_pos")
    paired = (
        joined.withColumn("rn", F.row_number().over(w))
        .groupBy("rel_id", "rel_name")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("m_group"))).alias("left_group"),
            F.max(F.when(F.col("rn") == 1, F.col("m_oid"))).alias("left_oid"),
            F.max(F.when(F.col("rn") == 2, F.col("m_group"))).alias("right_group"),
            F.max(F.when(F.col("rn") == 2, F.col("m_oid"))).alias("right_oid"),
        )
        .drop("rel_id")
        .filter(F.col("left_oid").isNotNull() & F.col("right_oid").isNotNull())
        .distinct()
    )
    return paired


def insert_order(schema: SchemaPlan) -> list[str]:
    """Topological insert order from 1-n orientation (referenced "one"
    tables first — ``export/sql.py:303-371``'s recursive resolve, done once
    driver-side on the tiny schema graph)."""
    deps: dict[str, set[str]] = {g: set() for g in schema.groups}
    for _name, many, one, _fk in _rel_sides(schema):
        if many in deps and one in deps:
            deps[many].add(one)
    out: list[str] = []
    seen: set[str] = set()

    def visit(g: str, stack: set[str]) -> None:
        if g in seen or g in stack:
            return
        stack.add(g)
        for d in sorted(deps.get(g, ())):
            visit(d, stack)
        stack.discard(g)
        seen.add(g)
        out.append(g)

    for g in sorted(deps):
        visit(g, set())
    return out


def export_sql_frames(
    nodes: DataFrame, schema: SchemaPlan, *, typed: bool = False
) -> dict[str, DataFrame]:
    """All frames ready for ``write.jdbc``: per-group frames with FK columns
    joined in from the REL pairs, plus join-table frames for n-n.  Lands
    the group instances and, when the schema has relations, the REL pairs
    at call time (one eager barrier each); every returned frame reads only those.

    ``typed=True`` runs the reference's export-time parse chain
    (``export/sql.py:262-300``) over each group frame's entity columns —
    see :mod:`architxt_spark.sinks.types` (OID/FK columns stay strings)."""
    frames = group_frames(nodes, schema)
    if typed:
        from architxt_spark.sinks.types import apply_typed_casts, infer_column_types

        frames = {
            g: apply_typed_casts(
                df, infer_column_types(df, [c for c in df.columns if c != OID_COL])
            )
            for g, df in frames.items()
        }

    if not schema.relations:
        return frames
    pairs = stage_barrier(relation_pairs(nodes, (r.name for r in schema.relations)))
    for rel_name, many, one, fk in _rel_sides(schema):
        rel = pairs.filter(F.col("rel_name") == rel_name)
        many_side = rel.filter(F.col("left_group") == many).select(
            F.col("left_oid").alias("_m_oid"), F.col("right_oid").alias(fk)
        ).unionByName(
            rel.filter((F.col("right_group") == many) & (F.col("left_group") != many)).select(
                F.col("right_oid").alias("_m_oid"), F.col("left_oid").alias(fk)
            )
        ).dropDuplicates(["_m_oid"])
        if many in frames:
            frames[many] = frames[many].join(
                many_side, frames[many][OID_COL] == many_side._m_oid, "left"
            ).drop("_m_oid")

    for rel in sorted(schema.relations, key=lambda r: r.name):
        if rel.orientation == RelationOrientation.BOTH:
            rel_pairs = pairs.filter(F.col("rel_name") == rel.name)
            assoc = f"{rel.left}_{rel.right}_assoc"
            lcol, rcol = _fk_col(rel.left), _fk_col(rel.right)
            frames[assoc] = rel_pairs.select(
                F.when(F.col("left_group") == rel.left, F.col("left_oid"))
                .otherwise(F.col("right_oid"))
                .alias(lcol),
                F.when(F.col("left_group") == rel.left, F.col("right_oid"))
                .otherwise(F.col("left_oid"))
                .alias(rcol),
            ).distinct()
    return frames


def write_sqlite(
    frames: Mapping[str, DataFrame],
    ddl: list[str],
    path: str,
    order: list[str] | None = None,
    batch_size: int = 1024,
) -> None:
    """Driver-side SQLite writer for TESTS (no JDBC driver jar in this
    environment; the production path is ``frames[g].write.jdbc``).  Streams
    rows with ``toLocalIterator`` in batches — never a full ``collect``."""
    import sqlite3

    con = sqlite3.connect(path)
    try:
        for stmt in ddl:
            con.execute(stmt)
        names = order if order is not None else list(frames)
        # assoc frames (not in the group order) go last
        names = list(names) + [n for n in frames if n not in names]
        for name in names:
            if name not in frames:
                continue
            df = frames[name]
            cols = df.columns
            placeholders = ", ".join("?" for _ in cols)
            collist = ", ".join(f'"{c}"' for c in cols)
            sql = f'INSERT OR IGNORE INTO "{name}" ({collist}) VALUES ({placeholders})'
            batch: list[tuple] = []
            for row in df.toLocalIterator():
                batch.append(tuple(row[c] for c in cols))
                if len(batch) >= batch_size:
                    con.executemany(sql, batch)
                    batch = []
            if batch:
                con.executemany(sql, batch)
        con.commit()
    finally:
        con.close()
