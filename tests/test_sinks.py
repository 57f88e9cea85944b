"""Exporter tests: DDL generation, FK wiring, SQLite round-trip, Cypher
frames + script (reference parity: ``architxt/database/export/sql.py``,
``export/cypher.py``, collapsible groups ``architxt/schema.py:442-501``)."""

import re
import sqlite3

import pytest
from pyspark.sql import functions as F

from architxt_spark import pipeline
from architxt_spark.plans import extract_datasets, schema_from_forest
from architxt_spark.plans.schema import Relation, RelationOrientation, SchemaPlan
from architxt_spark.sinks import (
    cypher_frames,
    export_cypher_script,
    export_sql_frames,
    insert_order,
    schema_ddl,
    write_sqlite,
)
from architxt_spark.sources import FK, read_relational


@pytest.fixture(scope="module")
def nation_forest(spark, sf_dir):
    tables = {
        "nation": spark.read.parquet(f"{sf_dir}/nation.parquet"),
        "region": spark.read.parquet(f"{sf_dir}/region.parquet"),
    }
    fks = [FK("nation", "n_regionkey", "region", "r_regionkey")]
    pks = {"nation": ["n_nationkey"], "region": ["r_regionkey"]}
    return read_relational(spark, tables, fks, pks)


def test_schema_ddl_shapes():
    schema = SchemaPlan(
        groups={"a": frozenset({"x"}), "b": frozenset({"y"}), "c": frozenset({"z"})},
        relations={
            Relation("a<->b", "a", "b", RelationOrientation.RIGHT),  # b is "one" ⇒ FK on a
            Relation("b<->c", "b", "c", RelationOrientation.BOTH),
        },
    )
    ddl = schema_ddl(schema)
    a = next(s for s in ddl if s.startswith('CREATE TABLE "a"'))
    assert '"b_architxt_oid" VARCHAR REFERENCES "b"' in a
    assert any('"b_c_assoc"' in s for s in ddl)
    assert sum(s.startswith("CREATE TABLE") for s in ddl) == 4


def test_insert_order_topological():
    schema = SchemaPlan(
        groups={"child": frozenset({"x"}), "parent": frozenset({"y"})},
        relations={Relation("r", "child", "parent", RelationOrientation.RIGHT)},
    )
    order = insert_order(schema)
    assert order.index("parent") < order.index("child")


def test_sqlite_roundtrip_with_fk(spark, nation_forest, tmp_path):
    schema = schema_from_forest(nation_forest, keep_unlabelled=False)
    frames = export_sql_frames(nation_forest, schema)
    db = str(tmp_path / "export.db")
    write_sqlite(frames, schema_ddl(schema), db, insert_order(schema))

    con = sqlite3.connect(db)
    try:
        n_nation = con.execute('SELECT COUNT(*) FROM "nation"').fetchone()[0]
        n_region = con.execute('SELECT COUNT(*) FROM "region"').fetchone()[0]
        assert n_nation == 25 and n_region == 5
        # every nation row carries a valid region FK
        dangling = con.execute(
            'SELECT COUNT(*) FROM "nation" n LEFT JOIN "region" r'
            ' ON n."region_architxt_oid" = r."_architxt_oid"'
            ' WHERE r."_architxt_oid" IS NULL'
        ).fetchone()[0]
        assert dangling == 0
        # values survive the round trip
        names = {r[0] for r in con.execute('SELECT "n_name" FROM "nation"')}
        src = {r["n_name"] for r in spark.read.parquet("/root/testdata/sf0.001/nation.parquet").collect()}
        assert names == src
    finally:
        con.close()


def test_cypher_frames_and_script(nation_forest):
    schema = schema_from_forest(nation_forest, keep_unlabelled=False)
    node_frames, rel_frames = cypher_frames(nation_forest, schema)
    assert set(node_frames) == {"nation", "region"}
    [(rname, rframe)] = rel_frames.items()
    assert rframe.count() == 25  # one edge per nation→region pair
    script = export_cypher_script(nation_forest, schema)
    merges = [s for s in script if s.startswith("MERGE (n:`nation`")]
    assert len(merges) == 25
    assert any("MERGE (a)-[:" in s for s in script)


def test_collapsible_group_becomes_edge(spark):
    # A ←1-n M n-1→ B: M participates exactly twice on the "one" side
    schema = SchemaPlan(
        groups={"a": frozenset({"x"}), "m": frozenset({"w"}), "b": frozenset({"y"})},
        relations={
            Relation("a<->m", "a", "m", RelationOrientation.RIGHT),  # a many, m one
            Relation("b<->m", "b", "m", RelationOrientation.RIGHT),  # b many, m one
        },
    )
    assert schema.find_collapsible_groups() == {"m"}


def test_export_sql_frames_typed(spark, nation_forest):
    """typed=True recovers column types via the export parse chain
    (``export/sql.py:262-300``): nation keys come back bigint, names stay
    string; values survive the cast."""
    schema = schema_from_forest(nation_forest)
    frames = export_sql_frames(nation_forest, schema, typed=True)
    nation = frames["nation"]
    dtypes = dict(nation.dtypes)
    assert dtypes["n_nationkey"] == "bigint"
    assert dtypes["n_name"] == "string"
    assert dtypes["_architxt_oid"] == "string"  # OID column never re-typed
    keys = sorted(r["n_nationkey"] for r in nation.select("n_nationkey").collect())
    assert keys == list(range(len(keys)))


def test_export_with_narrower_schema_matches_ddl(spark, sf_dir, nation_forest, tmp_path):
    """A caller-supplied schema whose group has fewer entities than the
    forest: every table frame has exactly the DDL's columns, so the sqlite
    write succeeds."""
    schema = SchemaPlan.from_description(groups={"nation": {"n_name"}})
    frames = export_sql_frames(nation_forest, schema)
    [ddl] = schema_ddl(schema)
    ddl_cols = re.findall(r'"([^"]+)" VARCHAR', ddl)
    assert frames["nation"].columns == ddl_cols == ["_architxt_oid", "n_name"]
    db = str(tmp_path / "narrow.db")
    write_sqlite(frames, [ddl], db, insert_order(schema))
    con = sqlite3.connect(db)
    try:
        names = {r[0] for r in con.execute('SELECT "n_name" FROM "nation"')}
    finally:
        con.close()
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    assert names == {r["n_name"] for r in src.collect()}


def test_group_extraction_and_export_job_counts(nation_forest, count_jobs, tmp_path):
    """Pin the Spark job counts of dataset extraction and SQL export on
    the nation forest (two groups, one relation).  Both land one shared
    group-instance frame instead of re-deriving it from the forest per
    group; a change that brings back per-group forest passes raises these
    counts."""
    schema = schema_from_forest(nation_forest, keep_unlabelled=False)
    assert set(schema.groups) == {"nation", "region"}

    def extract():
        for df in extract_datasets(nation_forest, schema).values():
            df.count()

    def export():
        ddl, frames, order = pipeline.export_sql(nation_forest, schema)
        write_sqlite(frames, ddl, str(tmp_path / "pin.db"), order)

    assert count_jobs(extract) == 14
    assert count_jobs(export) == 17


def test_cypher_export_job_count(nation_forest, count_jobs):
    """Pin the Spark job count of a whole Cypher script export on the
    nation forest: node frames and edge frames share one landed
    group-instance frame and one landed REL-pair frame."""
    schema = schema_from_forest(nation_forest, keep_unlabelled=False)
    assert count_jobs(lambda: export_cypher_script(nation_forest, schema)) == 16
