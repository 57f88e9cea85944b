"""The workloads, composed layer by layer from the engine's public
entry points, and the output check each iteration must pass.

Every layer call runs inside ``tracer.layer(name)``; the layer names are
the engine modules the call enters.  With tracing off the tracer only
keeps the clock, so the untraced program is exactly the composition
below.
"""

from __future__ import annotations

import os
import shutil
import sqlite3
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

import gen
from gen import TEXT_GROUPS

CENSUS_STAGES = ["input", "quality", "dedup", "decontam"]


class CheckFailed(Exception):
    """An iteration's output differs from what its inputs imply."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# --------------------------------------------------------------------------
# crawl_curate
# --------------------------------------------------------------------------


def crawl_curate(spark, inputs: str, out: str, tracer) -> dict:
    """``read_warc`` → status/content-type gate → land → ``curate_corpus``
    (near-dedup, decontamination against the eval slice, hash split) →
    ``write_corpus``."""
    from architxt_spark.functions.curation import curate_corpus
    from architxt_spark.sinks.corpus import write_corpus
    from architxt_spark.sources.warc import read_warc

    recs = read_warc(spark, os.path.join(inputs, "warc"))
    docs = recs.filter(
        (F.col("http_status") == 200)
        & F.col("content_type").contains("html")
        & F.col("target_uri").startswith("doc:")
    ).select(
        F.regexp_extract("target_uri", r"^doc:(\d+)\|", 1).cast("long").alias("doc_id"),
        "text",
        F.regexp_extract("target_uri", r"\|([^|]*)\|", 1).alias("lang"),
        F.regexp_extract("target_uri", r"\|([^|]*)$", 1).alias("source"),
        F.length("text").alias("n_chars"),
    ).persist()
    try:
        with tracer.layer("sources.warc"):
            docs.count()  # land the crawl: every curation stage reads it
        with tracer.layer("functions.curation"):
            kept, census = curate_corpus(
                docs,
                decontaminate_against=spark.read.parquet(os.path.join(inputs, "eval.parquet")),
                split_map={"train": 0.9, "valid": 0.1},
                salt="perfbench",
            )
            census_rows = [(r["stage"], r["n_docs"]) for r in census.collect()]
        tracer.mark_pre_sink()
        with tracer.layer("sinks.corpus"):
            write_corpus(
                kept.select("doc_id", "text", "lang", "source", "split"),
                out,
                partition_cols=["split"],
            )
    finally:
        docs.unpersist()
    return {"census": census_rows, "out": out}


def check_crawl(spark, result: dict, facts: dict) -> None:
    from architxt_spark.sinks.corpus import verify_corpus

    census = dict(result["census"])
    _require([s for s, _ in result["census"]] == CENSUS_STAGES, f"census stages {census}")
    _require(census["input"] == facts["records"], f"input {census['input']} != {facts['records']}")
    # junk never passes the quality gate; exact copies never survive dedup;
    # decontamination drops something, and not more survivors than the
    # eval slice has documents (half near-copies, half unrelated)
    _require(census["quality"] <= facts["records"] - facts["junk"], f"quality {census}")
    _require(census["dedup"] <= min(census["quality"], facts["distinct_texts"]), f"dedup {census}")
    _require(
        0 < census["dedup"] - census["decontam"] <= 2 * facts["contaminated"],
        f"decontam {census}",
    )
    # the first census that passes pins the seed's census for the run
    pinned = facts.setdefault("census", result["census"])
    _require(result["census"] == pinned, f"census {result['census']} != {pinned}")
    verdict = verify_corpus(spark, result["out"]).collect()
    _require(bool(verdict) and all(r["ok"] for r in verdict), f"verify_corpus {verdict}")
    manifest = spark.read.parquet(os.path.join(result["out"], "manifest"))
    n_docs = manifest.agg(F.sum("n_docs")).first()[0]
    _require(n_docs == census["decontam"], f"manifest n_docs {n_docs} != {census['decontam']}")


def sqlite_counts(path: str) -> dict[str, int]:
    con = sqlite3.connect(path)
    try:
        names = [r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")]
        return {n: con.execute(f'SELECT COUNT(*) FROM "{n}"').fetchone()[0] for n in names}
    finally:
        con.close()


def crawl_counts(spark, result: dict) -> dict[str, float]:
    """Parquet bytes the corpus sink wrote per byte of document text."""
    stored = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(os.path.join(result["out"], "data"))
        for f in files
        if f.endswith(".parquet")
    )
    manifest = spark.read.parquet(os.path.join(result["out"], "manifest"))
    return {"sinks.corpus.bytes_per_text_byte": stored / manifest.agg(F.sum("n_chars")).first()[0]}


# --------------------------------------------------------------------------
# structure_text
# --------------------------------------------------------------------------


def structure_text(spark, inputs: str, out: str, tracer) -> dict:
    """``load_corpus`` (StubParser) → ``rewrite`` → ``schema_from_forest``
    → ``extract_datasets`` → ``export_sql`` → ``write_sqlite``."""
    from architxt_spark import pipeline
    from architxt_spark.operators import rewrite
    from architxt_spark.plans.schema import extract_datasets, schema_from_forest
    from architxt_spark.session import stage_barrier
    from architxt_spark.sinks import write_sqlite

    with tracer.layer("nlp"):
        docs = spark.read.parquet(os.path.join(inputs, "brat"))
        nodes = stage_barrier(pipeline.load_corpus(docs))
    with tracer.layer("operators.engine"):
        forest = stage_barrier(rewrite(nodes, on_stage=tracer.on_stage))
    with tracer.layer("plans.schema"):
        schema = schema_from_forest(forest)
    tracer.mark_pre_sink()
    with tracer.layer("plans.schema"):
        extracted = {
            schema.groups[g]: df.count() for g, df in extract_datasets(forest, schema).items()
        }
    with tracer.layer("sinks.sql"):
        ddl, frames, order = pipeline.export_sql(forest, schema)
        write_sqlite(frames, ddl, out, order)
    return {"schema": schema, "extracted": extracted, "out": out}


def check_text(spark, result: dict, facts: dict) -> None:
    found = set(result["schema"].groups.values())
    _require(found == set(TEXT_GROUPS), f"entity sets {found}")
    _require(result["extracted"] == facts["rows"], f"extracted {result['extracted']} != {facts['rows']}")
    counts = sqlite_counts(result["out"])
    _require(len(counts) >= len(TEXT_GROUPS) and all(counts.values()), f"sqlite tables {counts}")


def text_counts(spark, result: dict) -> dict[str, float]:
    return {"sinks.sql.rows_written": float(sum(sqlite_counts(result["out"]).values()))}


@dataclass(frozen=True)
class Workload:
    #: (root, size, seed, shards) -> facts the check needs
    generate: Callable[..., dict]
    #: (spark, inputs, out, tracer) -> result; one iteration
    body: Callable[..., dict]
    #: (spark, result, facts) -> None, raises CheckFailed
    check: Callable[..., None]
    #: (spark, result) -> per-layer counts; traced iterations only, as
    #: they may run Spark jobs of their own
    counts: Callable[..., dict]
    #: input documents
    size: int


WORKLOADS = {
    "crawl_curate": Workload(
        gen.write_crawl, crawl_curate, check_crawl, crawl_counts,
        size=6000,
    ),
    "structure_text": Workload(
        gen.write_brat, structure_text, check_text, text_counts,
        size=2000,
    ),
}


def remove_output(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.remove(path)
