"""CLI-verb facade: the reference's top-level entry points as one-call
pipelines.

The reference drives everything through five CLI verbs
(``architxt/cli/__init__.py``, ``cli/loader.py``, ``cli/export.py``); this
module composes the Spark operators into the same verbs so a reference user
can switch call-for-call:

==============================  =============================================
reference                        here
==============================  =============================================
``architxt load corpus``         :func:`load_corpus`  (``cli/loader.py:163-224``)
``architxt load sql``            :func:`load_sql`     (``cli/loader.py:98-126``)
``architxt load graph``          :func:`load_graph`   (``loader/cypher.py:17-135``)
``architxt load document``       :func:`load_documents`
``architxt simplify``            :func:`simplify`     (``cli/__init__.py:120-186``)
``architxt export sql``          :func:`export_sql`   (``cli/export.py:39-56``)
``architxt export cypher``       :func:`export_cypher`
==============================  =============================================

Each verb returns DataFrames (the node table, or export frames) — nothing is
collected; callers chain or write as they wish.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, SparkSession

from architxt_spark.plans.schema import SchemaPlan, schema_from_forest


def load_corpus(
    docs: DataFrame,
    *,
    entities_filter: list[str] | None = None,
    entities_mapping: dict[str, str] | None = None,
    relations_filter: list[str] | None = None,
    parser_factory=None,
    extractor=None,
    resolver=None,
) -> DataFrame:
    """Text (+ optional BRAT ``.ann``) → forest (``raw_load_corpus``,
    ``architxt/nlp/__init__.py:243-321``).

    ``docs``: (doc_id, txt[, ann]).  Sentences are split, standoff entities
    parsed / filtered / renamed and re-based per sentence, then the parse +
    entity-insertion boundary emits one tree per sentence.  The reference's
    md5 parse cache maps to persisting the returned frame (parquet /
    :class:`~architxt_spark.bucket.ParquetTreeBucket`).

    ``extractor`` (:class:`~architxt_spark.nlp.enrich.EntityExtractor`)
    adds NER entities on top of the standoff ones; ``resolver``
    (:class:`~architxt_spark.nlp.enrich.EntityResolver`) normalizes entity
    values — the reference's plug-in stages (``nlp/__init__.py:199-205``).
    """
    from architxt_spark.nlp import (
        parse_ann_entities,
        parse_sentences_df,
        split_entities,
        split_sentences,
    )

    sentences = split_sentences(docs)
    sent_entities = None
    if "ann" in docs.columns:
        ents = parse_ann_entities(
            docs, allowed=entities_filter, renames=entities_mapping
        )
        sent_entities = split_entities(sentences, ents)
    if extractor is not None:
        found = extractor.extract(sentences)
        sent_entities = (
            found if sent_entities is None
            else sent_entities.unionByName(found)
        )
    if resolver is not None and sent_entities is not None:
        sent_entities = resolver.resolve(sent_entities)
    kwargs = {} if parser_factory is None else {"parser_factory": parser_factory}
    return parse_sentences_df(sentences, sent_entities, **kwargs)


def load_sql(
    spark: SparkSession,
    tables: Mapping[str, DataFrame],
    fks,
    pks: Mapping[str, list[str]],
    **kw,
) -> DataFrame:
    """Relational DB → forest (``architxt load sql`` →
    ``loader/sql.py:18-48``); see :func:`~architxt_spark.sources.read_relational`."""
    from architxt_spark.sources import read_relational

    return read_relational(spark, tables, fks, pks, **kw)


def load_graph(nodes: DataFrame, rels: DataFrame, **kw) -> DataFrame:
    """Property graph → forest (``loader/cypher.py:17-135``); see
    :func:`~architxt_spark.sources.graph.read_graph`."""
    from architxt_spark.sources.graph import read_graph

    return read_graph(nodes, rels, **kw)


def load_documents(
    docs: DataFrame, json_col: str = "json", id_col: str = "doc_id", **kw
) -> DataFrame:
    """Nested documents → forest (``loader/documents.py:32-220``); see
    :func:`~architxt_spark.sources.documents.read_documents_df`."""
    from architxt_spark.sources.documents import read_documents_df

    return read_documents_df(docs, json_col, id_col, **kw)


def simplify(
    nodes: DataFrame,
    *,
    tau: float = 0.7,
    epoch: int = 100,
    min_support: int | None = None,
) -> tuple[DataFrame, SchemaPlan]:
    """The core "query" (``architxt simplify`` → ``rewrite()``,
    ``simplification/tree_rewriting/__init__.py:56-168``): fixpoint rewrite
    + naming post-pass, then schema induction over the result.

    Returns ``(rewritten nodes, inferred SchemaPlan)``.
    """
    from architxt_spark.operators import rewrite

    out = rewrite(nodes, tau=tau, epoch=epoch, min_support=min_support)
    return out, schema_from_forest(out)


def export_sql(
    nodes: DataFrame, schema: SchemaPlan | None = None, *, typed: bool = False
) -> tuple[list[str], dict[str, DataFrame], list[str]]:
    """Forest → (DDL, per-table frames, topological insert order)
    (``cli/export.py:39-56`` → ``export/sql.py:47-371``).  Frames are ready
    for ``df.write.jdbc``; :func:`~architxt_spark.sinks.write_sqlite` is the
    local test sink."""
    from architxt_spark.sinks import export_sql_frames, insert_order, schema_ddl

    schema = schema or schema_from_forest(nodes, keep_unlabelled=False)
    return (
        schema_ddl(schema),
        export_sql_frames(nodes, schema, typed=typed),
        insert_order(schema),
    )


def export_cypher(
    nodes: DataFrame, schema: SchemaPlan | None = None
) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
    """Forest → (per-label node frames, per-type relationship frames) in
    graph-connector shape (``export/cypher.py:17-176``); collapsible middle
    groups become attributed edges."""
    from architxt_spark.sinks import cypher_frames

    schema = schema or schema_from_forest(nodes, keep_unlabelled=False)
    return cypher_frames(nodes, schema)


def _component_id(obj) -> str:
    """Deterministic identity of a parse-pipeline component for the cache
    key (the reference's ``_get_cache_key`` hashes ``language``,
    ``extractor.name`` and ``resolver.name`` — ``architxt/nlp/__init__.py``).
    ``functools.partial`` keeps its args/keywords (a partial differing only
    in ``language=`` must MISS); config-bearing components (patterns,
    canonical maps, an explicit ``name``) fold a digest of that config in."""
    import hashlib
    import json

    if obj is None:
        return "None"
    func = getattr(obj, "func", None)
    if func is not None and hasattr(obj, "keywords"):  # functools.partial
        inner = getattr(func, "__name__", None) or type(func).__name__
        return (
            f"{inner}(args={list(obj.args)!r},"
            f" kwargs={sorted((obj.keywords or {}).items())!r})"
        )
    name = getattr(obj, "__name__", None) or type(obj).__name__
    for attr in ("name", "patterns", "canonical"):
        cfg = getattr(obj, attr, None)
        if cfg is not None:
            blob = (
                json.dumps(sorted(cfg.items()), default=str)
                if isinstance(cfg, dict)
                else str(cfg)
            )
            return f"{name}:{hashlib.md5(blob.encode()).hexdigest()}"
    return name


def corpus_cache_key(
    docs: DataFrame,
    *,
    entities_filter: list[str] | None = None,
    entities_mapping: Mapping[str, str] | None = None,
    relations_filter: list[str] | None = None,
    parser_name: str = "StubParser",
    extractor_id: str = "None",
    resolver_id: str = "None",
) -> str:
    """Content-hash cache key for a parsed corpus (the reference's md5
    parse-cache key, ``architxt/nlp/__init__.py:45-76``): md5 over the
    sorted per-document content hashes plus every parse-relevant
    parameter.  ONE aggregate job; only the single 32-char digest reaches
    the driver."""
    import json

    from pyspark.sql import functions as F

    cols = [F.col("doc_id").cast("string"), F.md5(F.coalesce(F.col("txt"), F.lit("")))]
    if "ann" in docs.columns:
        cols.append(F.md5(F.coalesce(F.col("ann"), F.lit(""))))
    row_h = F.md5(F.concat_ws("\x1f", *cols))
    content = docs.agg(
        F.md5(F.concat_ws("", F.sort_array(F.collect_list(row_h)))).alias("h")
    ).collect()[0]["h"]
    params = json.dumps(
        {
            "ef": sorted(entities_filter) if entities_filter else None,
            "em": sorted((entities_mapping or {}).items()),
            "rf": sorted(relations_filter) if relations_filter else None,
            "parser": parser_name,
            "extractor": extractor_id,
            "resolver": resolver_id,
        },
        sort_keys=True,
    )
    import hashlib

    return hashlib.md5((content + "\x1f" + params).encode()).hexdigest()


def cached_load_corpus(
    docs: DataFrame,
    *,
    cache_dir: str,
    entities_filter: list[str] | None = None,
    entities_mapping: Mapping[str, str] | None = None,
    relations_filter: list[str] | None = None,
    parser_factory=None,
    extractor=None,
    resolver=None,
) -> DataFrame:
    """:func:`load_corpus` behind the reference's content-hash parse cache
    (``raw_load_corpus``'s md5-keyed on-disk cache re-expressed as a keyed
    parquet directory): a corpus whose content and parse parameters are
    unchanged is read back from parquet instead of re-parsed.  Constituency
    parsing dominates corpus ingestion cost, so cache hits skip the
    expensive boundary entirely — and the parquet round-trip preserves the
    node schema exactly."""
    import os

    parser_name = _component_id(parser_factory) if parser_factory else "StubParser"
    key = corpus_cache_key(
        docs,
        entities_filter=entities_filter,
        entities_mapping=entities_mapping,
        relations_filter=relations_filter,
        parser_name=parser_name,
        extractor_id=_component_id(extractor),
        resolver_id=_component_id(resolver),
    )
    path = os.path.join(cache_dir, key)
    spark = docs.sparkSession
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path)
    kwargs = dict(
        entities_filter=entities_filter,
        entities_mapping=dict(entities_mapping) if entities_mapping else None,
        relations_filter=relations_filter,
    )
    if parser_factory is not None:
        kwargs["parser_factory"] = parser_factory
    nodes = load_corpus(docs, extractor=extractor, resolver=resolver, **kwargs)
    nodes.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
