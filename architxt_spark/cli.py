"""Command-line interface mirroring the reference's ``architxt`` CLI.

Reference surface (``architxt/cli/__init__.py``, ``cli/loader.py``,
``cli/export.py``):

=====================================  ======================================
reference                              here (``python -m architxt_spark``)
=====================================  ======================================
``architxt load corpus ARCHIVE``       ``load corpus DIR --out NODES``
``architxt load sql URI``              ``load sql META.json --out NODES``
``architxt load graph URI``            ``load graph --nodes P --rels P --out NODES``
``architxt load document FILE``        ``load document FILE... --out NODES``
``architxt simplify``                  ``simplify NODES --out NODES2``
``architxt export sql``                ``export sql NODES --out DB.sqlite``
``architxt export cypher``             ``export cypher NODES --out DIR``
(inspector stats)                      ``stats NODES``
=====================================  ======================================

Differences by design: sources are parquet/files + a metadata JSON instead
of live DB connections (the production path swaps in ``spark.read.jdbc`` /
the graph connector with the same downstream code), and every verb's
intermediate is the node table written as parquet — the Spark-native
equivalent of the reference's ZODB bucket.

``load sql`` metadata JSON shape::

    {"tables": {"name": "path/to.parquet", ...},
     "pks": {"name": ["pk_col", ...], ...},
     "fks": [["table", "column", "ref_table", "ref_column"], ...]}
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from architxt_spark.session import get_spark, held


def _write_nodes(nodes: DataFrame, out: str) -> None:
    nodes.write.mode("overwrite").parquet(out)
    print(f"wrote node table: {out}")


def _read_nodes(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _cmd_load_document(args: argparse.Namespace) -> None:
    from architxt_spark.sources.documents import read_document_file

    spark = get_spark("architxt-spark-load-document")
    frames = [
        read_document_file(spark, p, root_name=args.root_name, raw_read=args.raw_read, sample=args.sample)
        for p in args.files
    ]
    nodes = frames[0]
    for f in frames[1:]:
        nodes = nodes.unionByName(f)
    _write_nodes(nodes, args.out)


def _cmd_load_corpus(args: argparse.Namespace) -> None:
    from architxt_spark.pipeline import load_corpus

    spark = get_spark("architxt-spark-load-corpus")
    rows = []
    for name in sorted(os.listdir(args.directory)):
        if not name.endswith(".txt"):
            continue
        doc_id = name[: -len(".txt")]
        with open(os.path.join(args.directory, name)) as f:
            txt = f.read()
        ann_path = os.path.join(args.directory, doc_id + ".ann")
        ann = None
        if os.path.exists(ann_path):
            with open(ann_path) as f:
                ann = f.read()
        rows.append((doc_id, txt, ann))
    if not rows:
        sys.exit(f"no .txt files in {args.directory}")
    docs = spark.createDataFrame(rows, "doc_id string, txt string, ann string")
    if all(r[2] is None for r in rows):
        docs = docs.drop("ann")
    nodes = load_corpus(
        docs,
        entities_filter=args.entities_filter or None,
        entities_mapping=dict(kv.split("=", 1) for kv in args.entities_mapping) or None
        if args.entities_mapping
        else None,
    )
    _write_nodes(nodes, args.out)


def _cmd_load_sql(args: argparse.Namespace) -> None:
    from architxt_spark.pipeline import load_sql
    from architxt_spark.sources.relational import FK

    spark = get_spark("architxt-spark-load-sql")
    with open(args.metadata) as f:
        meta = json.load(f)
    tables = {t: spark.read.parquet(p) for t, p in meta["tables"].items()}
    fks = [FK(*edge) for edge in meta.get("fks", [])]
    nodes = load_sql(
        spark,
        tables,
        fks,
        meta.get("pks", {}),
        search_all_instances=args.search_all_instances,
        sample=args.sample,
    )
    _write_nodes(nodes, args.out)


def _cmd_load_graph(args: argparse.Namespace) -> None:
    from architxt_spark.pipeline import load_graph

    spark = get_spark("architxt-spark-load-graph")
    nodes = load_graph(
        spark.read.parquet(args.nodes),
        spark.read.parquet(args.rels),
        sample=args.sample,
    )
    _write_nodes(nodes, args.out)


def _cmd_simplify(args: argparse.Namespace) -> None:
    from architxt_spark.pipeline import simplify

    spark = get_spark("architxt-spark-simplify")
    nodes = _read_nodes(spark, args.nodes)
    if getattr(args, "llm", False):
        # reference `simplify_llm` (`cli/__init__.py:189`): an LLM
        # normalizer pass over the forest before the rule-based fixpoint;
        # the normalizer seam defaults to the deterministic stub in this
        # container (a real client plugs in via --normalizer factory path)
        from architxt_spark.llm import llm_rewrite, sanitize_forest

        nodes = sanitize_forest(llm_rewrite(nodes))
    out, schema = simplify(
        nodes, tau=args.tau, epoch=args.epoch, min_support=args.min_support
    )
    _write_nodes(out, args.out)
    print("inferred schema:")
    print(schema.as_cfg())


def _cmd_compare(args: argparse.Namespace) -> None:
    """Reference ``compare`` verb (``cli/__init__.py:371-436``): load two
    forest snapshots, show per-entity-label counts side by side plus the
    ForestInspector statistics of each, and the entity-coverage of the
    destination against the source."""
    from architxt_spark.metrics import coverage, entity_oids, forest_stats
    from architxt_spark.model import NodeType

    spark = get_spark("architxt-spark-compare")
    src = _read_nodes(spark, args.src)
    dst = _read_nodes(spark, args.dst)

    def ent_counts(nodes: DataFrame) -> dict[str, int]:
        rows = (
            nodes.filter(F.col("node_type") == NodeType.ENT)
            .groupBy("node_name")
            .count()
            .collect()
        )
        return {r["node_name"]: r["count"] for r in rows}

    ce_src, ce_dst = ent_counts(src), ent_counts(dst)
    ents = sorted(ce_src.keys() | ce_dst.keys())
    report = {
        "entities": {e: [ce_src.get(e, 0), ce_dst.get(e, 0)] for e in ents},
        "stats": {
            "source": forest_stats(src),
            "destination": forest_stats(dst),
        },
        "coverage": coverage(entity_oids(src), entity_oids(dst)),
    }
    print(json.dumps(report, indent=2, default=str))


def _cmd_cache_clear(args: argparse.Namespace) -> None:
    """Reference ``cache-clear`` verb (``cli/__init__.py:467``): delete
    the content-hash parse cache (`pipeline.cached_load_corpus`'s keyed
    parquet directory)."""
    import shutil

    if not os.path.isdir(args.cache_dir):
        print(f"cache {args.cache_dir} is already empty; doing nothing")
        return
    n = 0
    for name in sorted(os.listdir(args.cache_dir)):
        sub_path = os.path.join(args.cache_dir, name)
        if os.path.isdir(sub_path):
            shutil.rmtree(sub_path)
            n += 1
    print(f"cleared {n} cached parse(s) from {args.cache_dir}")


def _cmd_export_sql(args: argparse.Namespace) -> None:
    from architxt_spark.pipeline import export_sql
    from architxt_spark.sinks import write_sqlite

    spark = get_spark("architxt-spark-export-sql")
    nodes = _read_nodes(spark, args.nodes)
    ddl, frames, order = export_sql(nodes, typed=args.typed)
    if args.ddl_only:
        print("\n".join(ddl))
        return
    write_sqlite(frames, ddl, args.out, order)
    print(f"wrote {len(frames)} tables to {args.out}")


def _cmd_export_cypher(args: argparse.Namespace) -> None:
    from architxt_spark.pipeline import export_cypher

    spark = get_spark("architxt-spark-export-cypher")
    nodes = _read_nodes(spark, args.nodes)
    node_frames, rel_frames = export_cypher(nodes)
    for label, df in node_frames.items():
        df.write.mode("overwrite").parquet(os.path.join(args.out, f"nodes_{label}"))
    for rel, df in rel_frames.items():
        df.write.mode("overwrite").parquet(os.path.join(args.out, f"rels_{rel}"))
    print(
        f"wrote {len(node_frames)} node frames + {len(rel_frames)} relationship "
        f"frames to {args.out} (graph-connector shape)"
    )


def _cmd_export_jsonl(args: argparse.Namespace) -> None:
    from architxt_spark.trees import write_jsonl_forest

    spark = get_spark("architxt-spark-export-jsonl")
    write_jsonl_forest(_read_nodes(spark, args.nodes), args.out)
    print(f"wrote JSONL forest: {args.out}")


def _cmd_load_jsonl(args: argparse.Namespace) -> None:
    from architxt_spark.trees import read_jsonl_forest

    spark = get_spark("architxt-spark-load-jsonl")
    _write_nodes(read_jsonl_forest(spark, args.path), args.out)


def _cmd_stats(args: argparse.Namespace) -> None:
    from architxt_spark.metrics import forest_stats

    spark = get_spark("architxt-spark-stats")
    print(json.dumps(forest_stats(_read_nodes(spark, args.nodes)), indent=2, default=str))


def _cmd_merge(args: argparse.Namespace) -> None:
    """Beyond-reference verb: delta-ingest a batch of documents into an
    existing corpus (or bootstrap one) — exact + near dedup against the
    corpus's sidecar indexes, survivors appended; prints the census."""
    from architxt_spark.sinks.corpus import merge_corpus

    spark = get_spark("architxt-spark-merge")
    census = merge_corpus(
        spark,
        args.corpus,
        spark.read.parquet(args.docs),
        partition_cols=args.partition_by,
        text_col=args.text_col,
        id_col=args.id_col,
        near=not args.exact_only,
        files_per_partition=args.files_per_partition,
    )
    for r in census.collect():
        print(f"{r.stage}\t{r.n_docs}")


def _cmd_drift(args: argparse.Namespace) -> None:
    """Beyond-reference verb: token-distribution drift between two
    corpora (old snapshot vs new crawl) — prints the top drifting
    tokens by Jeffreys contribution and the total."""
    from architxt_spark.functions.text import corpus_drift

    spark = get_spark("architxt-spark-drift")
    drift = corpus_drift(
        spark.read.parquet(args.corpus_a),
        spark.read.parquet(args.corpus_b),
        text_col=args.text_col,
        min_count=args.min_count,
    )
    with held(drift):
        total = drift.agg(F.sum("jeffreys")).first()[0]
        top = drift.orderBy(F.desc("jeffreys")).limit(args.top).collect()
    for r in top:
        print(f"{r.token}\t{r.c_a}\t{r.c_b}\t{r.jeffreys:.6g}")
    print(f"TOTAL\t\t\t{total:.6g}")


def _cmd_report(args: argparse.Namespace) -> None:
    """Beyond-reference verb: print the corpus datasheet (sizes, exact
    length deciles, language mix, dup share, quality summary, top
    sources) as `section<TAB>key<TAB>value` lines — the stats card a
    curation run publishes next to the corpus."""
    from architxt_spark.functions.report import corpus_report

    spark = get_spark("architxt-spark-report")
    docs = spark.read.parquet(args.docs)
    rep = corpus_report(
        docs,
        text_col=args.text_col,
        lang_col=args.lang_col,
        source_col=args.source_col,
        top_sources=args.top_sources,
    )
    for r in rep.collect():
        print(f"{r.section}\t{r.key}\t{r.value:g}")


def _cmd_generate(args: argparse.Namespace) -> None:
    """Reference ``generate`` verb (``cli/__init__.py:437-466``): synthetic
    instances of the demo medical schema."""
    from architxt_spark.generator import gen_instance
    from architxt_spark.plans.schema import Relation, SchemaPlan

    spark = get_spark("architxt-spark-generate")
    schema = SchemaPlan.from_description(
        groups={
            "SOSY": frozenset({"SOSY", "ANATOMIE", "SUBSTANCE"}),
            "TREATMENT": frozenset({"SUBSTANCE", "DOSAGE", "ADMINISTRATION", "FREQUENCY"}),
            "EXAM": frozenset({"DIAGNOSTIC_PROCEDURE", "ANATOMIE"}),
        },
        relations={
            Relation("PRESCRIPTION", "SOSY", "TREATMENT"),
            Relation("EXAM_RESULT", "EXAM", "SOSY"),
        },
        collections=args.collections,
    )
    print(schema.as_cfg())
    nodes = gen_instance(
        spark, schema, size=args.size, generate_collections=args.collections
    )
    _write_nodes(nodes, args.out)
    print(f"generated {nodes.select('tree_id').distinct().count()} instances")


def _cmd_cleanup(args: argparse.Namespace) -> None:
    """Reference ``cleanup`` verb (``cli/__init__.py:76-118``): keep only
    the schema-valid tree structure (labelled productions)."""
    from architxt_spark.metrics import forest_stats
    from architxt_spark.plans.schema import extract_valid_trees, schema_from_forest

    spark = get_spark("architxt-spark-cleanup")
    nodes = _read_nodes(spark, args.nodes)
    schema = schema_from_forest(nodes, keep_unlabelled=False)
    print(schema.as_cfg())
    out = extract_valid_trees(nodes, schema)
    _write_nodes(out, args.out)
    if args.metrics:
        print(json.dumps(forest_stats(out), indent=2, default=str))


def _cmd_curate(args: argparse.Namespace) -> None:
    """Beyond-reference verb: run the pretraining curation chain
    ([C4 line clean ->] quality gate -> exact+near dedup [-> mixture
    take] [-> packing]) over a parquet documents table — or, with
    ``--warc``, straight off WARC/CommonCrawl archives (records become
    documents with a stable hash id) — and write survivors to plain
    parquet or, with ``--partition-by``, through the partitioned corpus
    sink (hive layout + integrity manifest).  Prints the census."""
    import json as _json

    from architxt_spark.functions.curation import curate_corpus

    spark = get_spark("architxt-spark-curate")
    if args.jvm_nfc:
        try:
            from architxt_spark.jvm import register_jvm_nfc

            register_jvm_nfc(spark)
        except Exception as e:  # noqa: BLE001 — degrade to the Arrow path
            import warnings

            warnings.warn(
                f"--jvm-nfc unavailable ({e}); staying on the Arrow "
                "pandas_udf NFC path",
                RuntimeWarning,
                stacklevel=1,
            )
    if args.warc:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from architxt_spark.functions.domains import normalize_url
        from architxt_spark.sources.warc import read_warc, read_warc_split

        recs = (
            read_warc_split(spark, args.docs, split_bytes=args.split_bytes)
            if args.split_bytes
            else read_warc(spark, args.docs)
        )
        docs = recs.select(
            F.xxhash64("path", "record_id").alias(args.id_col),
            F.col("text").alias(args.text_col),
            normalize_url(F.col("target_uri")).alias("url"),
        )
        if args.url_dedup:
            # crawl-standard first dedup: one row per canonical URL,
            # deterministic winner (min id) — one shuffle on the URL key
            w = Window.partitionBy("url").orderBy(args.id_col)
            docs = (
                docs.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
    else:
        docs = spark.read.parquet(args.docs)
    counts = _json.loads(args.mixture_counts) if args.mixture_counts else None
    if args.durable_checkpoints:
        from architxt_spark.session import enable_durable_barriers

        enable_durable_barriers(spark, args.durable_checkpoints)
    kept, census = curate_corpus(
        docs,
        text_col=args.text_col,
        id_col=args.id_col,
        near_threshold=args.near_threshold,
        line_clean=args.line_clean,
        domain_col=args.domain_col,
        domain_blocklist=tuple(args.domain_blocklist or ()),
        domain_max_dup_fraction=args.max_dup_fraction,
        decontaminate_against=(
            spark.read.parquet(args.decontaminate_against)
            if args.decontaminate_against
            else None
        ),
        decontam_threshold=args.decontam_threshold,
        ppl_drop_tail=args.ppl_drop_tail,
        ppl_train_docs=(
            spark.read.parquet(args.ppl_train) if args.ppl_train else None
        ),
        quality_model_pos=(
            spark.read.parquet(args.quality_model_pos)
            if args.quality_model_pos
            else None
        ),
        quality_model_neg=(
            spark.read.parquet(args.quality_model_neg)
            if args.quality_model_neg
            else None
        ),
        quality_model_bigrams=args.quality_model_bigrams,
        quality_model_weights=(
            spark.read.parquet(args.quality_model_weights)
            if args.quality_model_weights
            else None
        ),
        mixture_col=args.mixture_col,
        mixture_counts=counts,
        mixture_token_budgets=(
            _json.loads(args.mixture_token_budgets)
            if args.mixture_token_budgets
            else None
        ),
        mixture_token_col=args.mixture_token_col,
        pack_token_col=args.pack_token_col,
        pack_budget=args.pack_budget,
        unicode_clean=args.unicode_clean,
        split_map=_json.loads(args.splits) if args.splits else None,
    )
    if args.partition_by:
        from architxt_spark.sinks.corpus import write_corpus

        write_corpus(
            kept,
            args.out,
            partition_cols=args.partition_by,
            text_col=args.text_col,
            mode="overwrite",
        )
    else:
        kept.write.mode("overwrite").parquet(args.out)
    for r in census.collect():
        print(f"{r['stage']}\t{r['n_docs']}")


def _cmd_compact(args: argparse.Namespace) -> None:
    """Merge a corpus sink's accumulated small files in place; refuses to
    touch the original layout unless the recomputed manifest verifies."""
    from architxt_spark.sinks.corpus import compact_corpus

    spark = get_spark("architxt-spark-compact")
    manifest = compact_corpus(
        spark,
        args.path,
        text_col=args.text_col,
        files_per_partition=args.files_per_partition,
    )
    for r in manifest.collect():
        d = r.asDict()
        print("\t".join(str(d[c]) for c in manifest.columns))


def _cmd_verify_corpus(args: argparse.Namespace) -> None:
    """Diff the stored manifest against the data; exit 1 on any bad
    partition (the pre-flight check a resumable backfill runs)."""
    import sys

    from architxt_spark.sinks.corpus import verify_corpus

    spark = get_spark("architxt-spark-verify-corpus")
    rows = verify_corpus(spark, args.path, text_col=args.text_col).collect()
    bad = 0
    for r in rows:
        d = r.asDict()
        ok = d.pop("ok")
        print(("OK  " if ok else "BAD ") + ", ".join(f"{k}={v}" for k, v in d.items()))
        bad += 0 if ok else 1
    if bad:
        sys.exit(1)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="architxt-spark", description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)

    load = sub.add_parser("load", help="ingest a source into the node table")
    load_sub = load.add_subparsers(dest="source", required=True)

    d = load_sub.add_parser("document", help="JSON/JSONL/CSV/XML/TOML/YAML files")
    d.add_argument("files", nargs="+")
    d.add_argument("--out", required=True)
    d.add_argument("--root-name", default="ROOT")
    d.add_argument("--raw-read", action="store_true")
    d.add_argument("--sample", type=int, default=0)
    d.set_defaults(fn=_cmd_load_document)

    c = load_sub.add_parser("corpus", help="directory of BRAT .txt/.ann pairs")
    c.add_argument("directory")
    c.add_argument("--out", required=True)
    c.add_argument("--entities-filter", nargs="*", default=None)
    c.add_argument("--entities-mapping", nargs="*", default=None, metavar="OLD=NEW")
    c.set_defaults(fn=_cmd_load_corpus)

    s = load_sub.add_parser("sql", help="parquet tables + FK metadata JSON")
    s.add_argument("metadata")
    s.add_argument("--out", required=True)
    s.add_argument("--search-all-instances", action="store_true")
    s.add_argument("--sample", type=int, default=0)
    s.set_defaults(fn=_cmd_load_sql)

    j = load_sub.add_parser("jsonl", help="JSONL forest (Tree.to_json lines)")
    j.add_argument("path")
    j.add_argument("--out", required=True)
    j.set_defaults(fn=_cmd_load_jsonl)

    g = load_sub.add_parser("graph", help="property-graph node/relationship parquet")
    g.add_argument("--nodes", required=True)
    g.add_argument("--rels", required=True)
    g.add_argument("--out", required=True)
    g.add_argument("--sample", type=int, default=0)
    g.set_defaults(fn=_cmd_load_graph)

    si = sub.add_parser("simplify", help="fixpoint rewrite + schema induction")
    si.add_argument("nodes")
    si.add_argument("--out", required=True)
    si.add_argument("--tau", type=float, default=0.7)
    si.add_argument("--epoch", type=int, default=100)
    si.add_argument("--min-support", type=int, default=None)
    si.add_argument("--llm", action="store_true",
                    help="LLM normalizer pass before the rule fixpoint")
    si.set_defaults(fn=_cmd_simplify)

    cp = sub.add_parser("compare", help="side-by-side metrics of two forests")
    cp.add_argument("src")
    cp.add_argument("dst")
    cp.set_defaults(fn=_cmd_compare)

    cc = sub.add_parser("cache-clear", help="delete the content-hash parse cache")
    cc.add_argument("--cache-dir", required=True)
    cc.set_defaults(fn=_cmd_cache_clear)

    exp = sub.add_parser("export", help="export the node table")
    exp_sub = exp.add_subparsers(dest="sink", required=True)

    es = exp_sub.add_parser("sql", help="DDL + relational tables (sqlite locally)")
    es.add_argument("nodes")
    es.add_argument("--out", default="out.sqlite")
    es.add_argument("--typed", action="store_true")
    es.add_argument("--ddl-only", action="store_true")
    es.set_defaults(fn=_cmd_export_sql)

    ec = exp_sub.add_parser("cypher", help="graph-connector node/relationship frames")
    ec.add_argument("nodes")
    ec.add_argument("--out", required=True)
    ec.set_defaults(fn=_cmd_export_cypher)

    ej = exp_sub.add_parser("jsonl", help="JSONL forest (Tree.to_json lines)")
    ej.add_argument("nodes")
    ej.add_argument("--out", required=True)
    ej.set_defaults(fn=_cmd_export_jsonl)

    mg = sub.add_parser("merge", help="delta-ingest documents into a corpus")
    mg.add_argument("corpus", help="corpus root (data/ + manifest/ + index/)")
    mg.add_argument("docs", help="new documents parquet path")
    mg.add_argument("--partition-by", nargs="+", required=True, metavar="COL")
    mg.add_argument("--text-col", default="text")
    mg.add_argument("--id-col", default="doc_id")
    mg.add_argument("--exact-only", action="store_true",
                    help="skip the near-dup band index stage")
    mg.add_argument("--files-per-partition", type=int, default=1)
    mg.set_defaults(fn=_cmd_merge)

    dr = sub.add_parser("drift", help="token-distribution drift between two corpora")
    dr.add_argument("corpus_a", help="documents parquet path (old)")
    dr.add_argument("corpus_b", help="documents parquet path (new)")
    dr.add_argument("--text-col", default="text")
    dr.add_argument("--min-count", type=int, default=10)
    dr.add_argument("--top", type=int, default=20)
    dr.set_defaults(fn=_cmd_drift)

    rp = sub.add_parser("report", help="corpus datasheet (stats card)")
    rp.add_argument("docs", help="documents parquet path")
    rp.add_argument("--text-col", default="text")
    rp.add_argument("--lang-col", default=None)
    rp.add_argument("--source-col", default=None)
    rp.add_argument("--top-sources", type=int, default=5)
    rp.set_defaults(fn=_cmd_report)

    st = sub.add_parser("stats", help="forest inspector statistics")
    st.add_argument("nodes")
    st.set_defaults(fn=_cmd_stats)

    gen = sub.add_parser("generate", help="synthetic instances of the demo schema")
    gen.add_argument("--out", required=True)
    gen.add_argument("--size", type=int, default=100)
    gen.add_argument("--collections", action="store_true")
    gen.set_defaults(fn=_cmd_generate)

    cu = sub.add_parser("curate", help="pretraining curation chain over a parquet corpus")
    cu.add_argument("docs", help="parquet documents table")
    cu.add_argument("--out", required=True)
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--near-threshold", type=float, default=0.5)
    cu.add_argument("--domain-col", default=None,
                    help="enable the domain screen over this column")
    cu.add_argument("--domain-blocklist", nargs="+", default=None, metavar="DOMAIN",
                    help="domains dropped outright by the screen")
    cu.add_argument("--max-dup-fraction", type=float, default=0.5,
                    help="domain screen: drop domains whose duplicate-doc "
                         "fraction exceeds this (binary-exact values replay "
                         "across engines)")
    cu.add_argument("--decontaminate-against", default=None, metavar="PARQUET",
                    help="eval-set parquet; drop survivors near-dup to it")
    cu.add_argument("--decontam-threshold", type=float, default=0.5)
    cu.add_argument("--ppl-drop-tail", action="store_true",
                    help="CCNet-style LM stage: drop the worst-perplexity third")
    cu.add_argument("--ppl-train", default=None, metavar="PARQUET",
                    help="clean reference corpus for the ppl LM "
                         "(default: self-train on the survivors)")
    cu.add_argument("--quality-model-pos", default=None, metavar="PARQUET",
                    help="positive seed docs; with --quality-model-neg, train "
                         "the classifier gate and keep positive-margin rows")
    cu.add_argument("--quality-model-neg", default=None, metavar="PARQUET")
    cu.add_argument("--quality-model-weights", default=None, metavar="PARQUET",
                    help="PRE-TRAINED weight table (b, w) — the serving "
                    "posture: one model per corpus snapshot scores every "
                    "batch; mutually exclusive with the seed frames")
    cu.add_argument("--quality-model-bigrams", action="store_true",
                    help="add hashed word-bigram features (fastText space)")
    cu.add_argument("--mixture-col", default=None)
    cu.add_argument("--mixture-counts", default=None, help='JSON, e.g. {"en": 1000}')
    cu.add_argument("--mixture-token-budgets", default=None,
                    help='JSON token budgets per stratum, e.g. {"en": 500000}'
                    " (mutually exclusive with --mixture-counts)")
    cu.add_argument("--mixture-token-col", default=None,
                    help="token-count column for --mixture-token-budgets"
                    " (default: --pack-token-col, else n_chars)")
    cu.add_argument("--pack-token-col", default=None)
    cu.add_argument("--pack-budget", type=int, default=4096)
    cu.add_argument("--durable-checkpoints", default=None, metavar="DIR",
                    help="reliable checkpoint dir (cluster posture)")
    cu.add_argument("--warc", action="store_true",
                    help="input is a directory of WARC/WARC.gz archives")
    cu.add_argument("--split-bytes", type=int, default=None, metavar="N",
                    help="with --warc: carve uncompressed archives into "
                         "N-byte task splits (few-large-files layout)")
    cu.add_argument("--url-dedup", action="store_true",
                    help="with --warc: keep one record per canonical URL")
    cu.add_argument("--line-clean", action="store_true",
                    help="prepend the C4 line filter + page gate")
    cu.add_argument("--unicode-clean", action="store_true",
                    help="prepend NFC + control-strip + punct hygiene")
    cu.add_argument("--jvm-nfc", action="store_true",
                    help="with --unicode-clean: compile+register the JVM "
                    "NFC UDF (needs a JDK) so normalization runs without "
                    "Arrow transfer; falls back with a warning if no javac")
    cu.add_argument("--splits", default=None,
                    help='leakage-safe split map, e.g. {"train":0.95,"valid":0.05}')
    cu.add_argument("--partition-by", nargs="+", default=None, metavar="COL",
                    help="write through the partitioned corpus sink")
    cu.set_defaults(fn=_cmd_curate)

    cl = sub.add_parser("cleanup", help="keep only the schema-valid tree structure")
    cl.add_argument("nodes")
    cl.add_argument("--out", required=True)
    cl.add_argument("--metrics", action="store_true")
    cl.set_defaults(fn=_cmd_cleanup)

    co = sub.add_parser(
        "compact", help="merge a corpus sink's small files (verified swap)"
    )
    co.add_argument("path", help="corpus root (containing data/ + manifest/)")
    co.add_argument("--text-col", default="text")
    co.add_argument("--files-per-partition", type=int, default=1)
    co.set_defaults(fn=_cmd_compact)

    vc = sub.add_parser("verify-corpus", help="manifest integrity diff (exit 1 on mismatch)")
    vc.add_argument("path")
    vc.add_argument("--text-col", default="text")
    vc.set_defaults(fn=_cmd_verify_corpus)
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
