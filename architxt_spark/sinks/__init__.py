"""Sinks / exporters: forest → relational DB (DDL + FK-wired frames) and
forest → property graph (node/relationship frames, Cypher script)."""

from architxt_spark.sinks.corpus import corpus_manifest, verify_corpus, write_corpus
from architxt_spark.sinks.cypher import cypher_frames, export_cypher_script
from architxt_spark.sinks.types import apply_typed_casts, infer_column_types
from architxt_spark.sinks.sql import (
    export_sql_frames,
    group_frames,
    insert_order,
    relation_pairs,
    schema_ddl,
    write_sqlite,
)

__all__ = [
    "apply_typed_casts",
    "corpus_manifest",
    "verify_corpus",
    "write_corpus",
    "infer_column_types",
    "cypher_frames",
    "export_cypher_script",
    "export_sql_frames",
    "group_frames",
    "insert_order",
    "relation_pairs",
    "schema_ddl",
    "write_sqlite",
]
