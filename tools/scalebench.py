"""Scale rehearsal: measure how the heavy operator families scale past
sf0.1 (5k docs) — synthetic corpora at 10×/40× with realistic
duplicate/template skew, per-family wall time, and the fitted scaling
exponent between consecutive sizes (t ∝ n^e; e ≈ 1 is linear, the
100-TB posture's requirement for everything banded/bucketed).

Usage::

    python tools/scalebench.py [--sizes 12500 50000 200000] [--repeats 2]

Prints a BASELINE.md-ready table: (operator, n_docs, sec, µs/doc,
exponent-vs-prev).  Corpora are deterministic (seeded) so reruns
measure the same bytes; everything is generated under /tmp and cleaned
up by the OS, never under the repo or testdata.

Corpus skew model (mirrors what the dedup family exists for):
~55% unique docs, ~25% template near-dups (shared boilerplate + small
edit — the web-template blowup), ~12% exact duplicates of earlier docs,
~8% junk that fails the quality gate.  Embeddings: 64-d, 32 loose
clusters, n_docs/2.5 rows (the sf0.1 documents:embeddings ratio).
"""

from __future__ import annotations

import argparse
import math
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORDS = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an had they you were their one all we can "
    "her has there been if more when will would who so no out up into them "
    "then its only time two could other new some these may first than like "
    "water earth story garden market travel music painting harbor winter "
    "river mountain village bridge letter evening morning window journey "
    "science history analysis careful detailed knowledge education report"
).split()

TEMPLATES = [
    "subscribe to our newsletter for the latest updates and offers today",
    "all rights reserved terms of service privacy policy contact us about",
    "click here to read more about this amazing story and share it now",
    "the committee met on tuesday to discuss the annual budget proposal",
]


def gen_documents(spark, n: int, seed: int = 7):
    rng = random.Random(seed)
    rows = []
    texts: list[str] = []
    for i in range(n):
        p = rng.random()
        if p < 0.55 or not texts:
            body = "the and " + " ".join(rng.choices(WORDS, k=40))
        elif p < 0.80:
            t = rng.choice(TEMPLATES)
            body = (
                "the and " + t + " " + t + " "
                + " ".join(rng.choices(WORDS, k=6))
            )
        elif p < 0.92:
            body = texts[rng.randrange(len(texts))]
        else:
            body = rng.choice(("junk", "click here", "a a a a a a a a"))
        texts.append(body)
        rows.append((
            i,
            body,
            rng.choice(("en", "en", "en", "fr", "de")),
            f"site{rng.randrange(max(20, n // 250))}.com",
            len(body),
        ))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def gen_documents_dist(spark, n: int, seed: int = 7):
    """Distributed twin of :func:`gen_documents` — the SAME skew recipe
    (55% unique / 25% template / 12% exact-dup / 8% junk) as pure column
    expressions, so the ≥1M-doc rungs generate in parallel instead of on
    the driver.  Exact-dup docs share text within hash-assigned dup
    groups (~6 docs/group), templates repeat a shared boilerplate with a
    small hash-picked edit — the same families the dedup/curation ops
    exist to catch.  Deterministic in (n, seed)."""
    from pyspark.sql import functions as F

    words = F.array(*[F.lit(w) for w in WORDS])
    templates = F.array(*[F.lit(t) for t in TEMPLATES])
    junk = F.array(F.lit("junk"), F.lit("click here"), F.lit("a a a a a a a a"))

    def pick_words(key, k):
        # k hash-picked words from WORDS, keyed so distinct keys give
        # distinct (but reproducible) word salads
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda p: F.element_at(
                    words,
                    (F.pmod(F.xxhash64(key * 131 + p, F.lit(seed)), F.lit(len(WORDS))) + 1).cast("int"),
                ),
            ),
            " ",
        )

    df = spark.range(n).select(F.col("id").alias("doc_id"))
    h = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(100))
    dup_key = F.pmod(F.xxhash64("doc_id", F.lit(seed + 1)), F.lit(max(1, n // 50)))
    tmpl = F.element_at(
        templates,
        (F.pmod(F.xxhash64("doc_id", F.lit(seed + 2)), F.lit(len(TEMPLATES))) + 1).cast("int"),
    )
    body = (
        F.when(h < 55, F.concat(F.lit("the and "), pick_words(F.col("doc_id"), 40)))
        .when(
            h < 80,
            F.concat(
                F.lit("the and "), tmpl, F.lit(" "), tmpl, F.lit(" "),
                pick_words(F.col("doc_id"), 6),
            ),
        )
        .when(h < 92, F.concat(F.lit("the and "), pick_words(dup_key * 7919 + 3, 40)))
        .otherwise(
            F.element_at(
                junk,
                (F.pmod(F.xxhash64("doc_id", F.lit(seed + 3)), F.lit(3)) + 1).cast("int"),
            )
        )
    )
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("fr"), F.lit("de")),
        (F.pmod(F.xxhash64("doc_id", F.lit(seed + 4)), F.lit(5)) + 1).cast("int"),
    )
    site = F.concat(
        F.lit("site"),
        F.pmod(F.xxhash64("doc_id", F.lit(seed + 5)), F.lit(max(20, n // 250))).cast("string"),
        F.lit(".com"),
    )
    return df.select(
        "doc_id",
        body.alias("text"),
        lang.alias("lang"),
        site.alias("source"),
        F.length(body).cast("long").alias("n_chars"),
    )


def gen_documents_zipf(
    spark, n: int, seed: int = 29, n_templates: int = 10_000, boiler_pct: int = 30
):
    """Web-crawl duplication shape for the dedup pair generators: 30% of
    docs are VERBATIM copies of Zipf-ranked boilerplate templates (rank k
    drawn with P ∝ 1/k via the inverse CDF ``T^u``, so rank 1 alone is
    ~11% of the boilerplate mass — the millions-of-copies-of-one-cookie-
    notice class), the rest unique 40-word salads.  The hot bands this
    produces are exactly what ``max_band_df``/``max_shingle_df`` exist to
    cap.  Deterministic in (n, seed)."""
    from pyspark.sql import functions as F

    words = F.array(*[F.lit(w) for w in WORDS])

    def pick_words(key, k, wide=False):
        # wide=True appends a hash-keyed numeric suffix from a 10k domain
        # (~1M distinct words total): real web text follows Heaps' law, so
        # UNRELATED documents share almost no 3-gram shingles.  The first
        # cut reused the bare 94-word vocabulary for the unique salads,
        # which saturated the shingle space -- every unique doc's shingle
        # df converged to ~n/|space|, riding just UNDER the DF cap (the
        # maximally adversarial, unrealistic point: candidate volume grew
        # toward its linear bound's worst constant, cap x shingle-rows,
        # instead of the web-shaped curve).
        def word(p):
            w = F.element_at(
                words,
                (F.pmod(F.xxhash64(key * 131 + p, F.lit(seed)), F.lit(len(WORDS))) + 1).cast("int"),
            )
            if not wide:
                return w
            return F.concat(
                w,
                F.pmod(F.xxhash64(key * 131 + p, F.lit(seed + 7)), F.lit(10_000)).cast("string"),
            )

        return F.array_join(F.transform(F.sequence(F.lit(0), F.lit(k - 1)), word), " ")

    df = spark.range(n).select(F.col("id").alias("doc_id"))
    h = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(100))
    u = F.pmod(F.xxhash64("doc_id", F.lit(seed + 1)), F.lit(1_000_000)) / 1_000_000.0
    # inverse-CDF Zipf(s=1): u uniform -> floor(T^u) has P(rank=k) ∝ 1/k
    rank = F.floor(F.pow(F.lit(float(n_templates)), u)).cast("long")
    body = F.when(
        h < boiler_pct, F.concat(F.lit("the and "), pick_words(rank * 7919 + 11, 40))
    ).otherwise(F.concat(F.lit("the and "), pick_words(F.col("doc_id"), 40, wide=True)))
    return df.select("doc_id", body.alias("text"))


def gen_edges(spark, n_edges: int, seed: int = 13):
    """Hub-skewed link graph for the PageRank rehearsal: ~n_edges/8
    nodes, 20% of edges rerouted into a 100-node hub core (the web's
    in-degree skew), self-loops dropped.  Deterministic in (n, seed)."""
    from pyspark.sql import functions as F

    n_nodes = max(100, n_edges // 8)
    df = spark.range(n_edges).select(F.col("id").alias("eid"))
    src = F.pmod(F.xxhash64("eid", F.lit(seed)), F.lit(n_nodes))
    hubby = F.pmod(F.xxhash64("eid", F.lit(seed + 1)), F.lit(5)) == 0
    dst = F.when(
        hubby, F.pmod(F.xxhash64("eid", F.lit(seed + 2)), F.lit(100))
    ).otherwise(F.pmod(F.xxhash64("eid", F.lit(seed + 3)), F.lit(n_nodes)))
    return df.select(src.alias("src"), dst.alias("dst")).filter("src <> dst")


def gen_layered_graph(spark, n_edges: int, layers: int = 8, seed: int = 17):
    """Hub-skewed LAYERED graph for the BFS rehearsal: ~n_edges/4 nodes
    in ``layers`` layers, every edge goes layer l → l+1 (so a traversal
    from layer-0 roots runs exactly ``layers-1`` BFS levels), and the
    destination offset is cube-skewed toward each layer's low ids (the
    hub in-degree skew that makes the visited-set anti-join earn its
    keep — many edges converge on few hubs).  Deterministic in
    (n, seed); rel_type present because ``_traverse``'s min_by
    tie-break reads it."""
    from pyspark.sql import functions as F

    n_nodes = max(n_edges // 4, layers * 256)
    per = n_nodes // layers
    df = spark.range(n_edges).select(F.col("id").alias("eid"))
    lvl = F.pmod(F.xxhash64("eid", F.lit(seed)), F.lit(layers - 1))
    src_off = F.pmod(F.xxhash64("eid", F.lit(seed + 1)), F.lit(per))
    u = F.pmod(F.xxhash64("eid", F.lit(seed + 2)), F.lit(1_000_000)) / 1_000_000.0
    dst_off = F.least(
        F.floor(F.lit(per) * F.pow(u, F.lit(3.0))), F.lit(per - 1)
    )
    return df.select(
        (lvl * per + src_off).cast("long").alias("src"),
        ((lvl + 1) * per + dst_off).cast("long").alias("dst"),
        F.lit("LINK").alias("rel_type"),
    )


def gen_forest(spark, docs, cpus: int):
    """Unlabelled row-tree forest for the rewrite rehearsal: three tree
    shapes (entity sets {doc_id,lang,source} / {doc_id,lang} /
    {doc_id,source,n_chars} by doc_id%3) so clustering sees multiple
    signatures, depth-1 labels stripped — the 'unstructured input' the
    rewrite loop discovers structure in (mirrors the registry's
    rewrite_documents forest at driver scale)."""
    from pyspark.sql import functions as F

    from architxt_spark.sources.documents import row_trees

    shapes = [
        (["doc_id", "lang", "source"], "documents"),
        (["doc_id", "lang"], "documents_b"),
        (["doc_id", "source", "n_chars"], "documents_c"),
    ]
    parts = []
    for i, (cols, name) in enumerate(shapes):
        part = docs.filter(F.col("doc_id") % 3 == i).select(*cols)
        parts.append(row_trees(part, name, ["doc_id"]))
    nodes = parts[0]
    for p in parts[1:]:
        nodes = nodes.unionByName(p)
    return nodes.withColumn(
        "node_type",
        F.when(F.col("depth") == 1, F.lit(None).cast("string")).otherwise(
            F.col("node_type")
        ),
    ).repartition(cpus)


def gen_embeddings(spark, n: int, dim: int = 64, seed: int = 11):
    rng = random.Random(seed)
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(32)]
    rows = []
    for i in range(n):
        c = centers[rng.randrange(32)]
        rows.append((i, [c[d] + rng.gauss(0, 0.3) for d in range(dim)], i % 32))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def gen_embeddings_dist(spark, n: int, dim: int = 64, seed: int = 11, n_centers: int = 32):
    """Distributed twin of :func:`gen_embeddings` for the ≥100k-vector
    serving rungs: the 32 cluster centers are driver-generated (tiny) and
    inlined as a literal array; per-vector noise comes from column-level
    ``randn`` — the same clustered geometry, generated in parallel."""
    import random as _random

    from pyspark.sql import functions as F

    rng = _random.Random(seed)
    centers = [[round(rng.gauss(0, 1), 6) for _ in range(dim)] for _ in range(n_centers)]
    centers_lit = F.array(
        *[F.array(*[F.lit(c[d]) for d in range(dim)]) for c in centers]
    )
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    center = F.element_at(centers_lit, (F.pmod("vec_id", F.lit(n_centers)) + 1).cast("int"))
    noise = F.array(*[F.randn(seed * 1000 + d) * 0.3 for d in range(dim)])
    return base.select(
        "vec_id",
        F.zip_with(center, noise, lambda a, b: (a + b).cast("float")).alias("embedding"),
        F.pmod("vec_id", F.lit(n_centers)).cast("int").alias("label"),
    )


def time_op(fn, repeats: int) -> float:
    best = None
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--sizes", type=int, nargs="+", default=[12500, 50000, 200000])
    p.add_argument("--repeats", type=int, default=2)
    p.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    p.add_argument("--workdir", default="/tmp/scalebench")
    p.add_argument(
        "--families",
        nargs="+",
        default=["core", "rewrite", "pagerank", "curate_big"],
        choices=["core", "rewrite", "pagerank", "curate_big", "ann_serving", "warc", "crawl", "dedup", "multimodal", "graph", "crawl_media", "components", "legacy_docs"],
        help="which rehearsal families to run: core = the r8 dedup/ANN/"
        "curation set at --sizes; rewrite = the forest-fixpoint engine "
        "at 2.5k/10k/40k trees (per-iteration exponent); pagerank = the "
        "Pregel-shaped integer ranks at 250k/1M/4M edges; curate_big = "
        "curate_full at 200k/1M docs via the distributed generator",
    )
    p.add_argument("--rewrite-sizes", type=int, nargs="+", default=[2500, 10000, 40000])
    p.add_argument(
        "--ann-serving-sizes", type=int, nargs="+", default=[20_000, 80_000, 320_000]
    )
    p.add_argument("--warc-sizes-mb", type=int, nargs="+", default=[16, 64, 256])
    p.add_argument(
        "--pagerank-sizes", type=int, nargs="+", default=[250_000, 1_000_000, 4_000_000]
    )
    p.add_argument("--curate-big-sizes", type=int, nargs="+", default=[200_000, 1_000_000])
    p.add_argument("--crawl-sizes", type=int, nargs="+", default=[50_000, 200_000])
    p.add_argument(
        "--dedup-sizes", type=int, nargs="+", default=[200_000, 1_000_000, 4_000_000]
    )
    p.add_argument("--dedup-band-cap", type=int, default=256)
    p.add_argument(
        "--multimodal-sizes", type=int, nargs="+", default=[8_000, 32_000, 128_000]
    )
    p.add_argument(
        "--graph-sizes", type=int, nargs="+",
        default=[1_000_000, 4_000_000, 16_000_000],
    )
    p.add_argument("--graph-roots", type=int, default=64)
    p.add_argument(
        "--crawl-media-sizes", type=int, nargs="+", default=[24_000, 96_000]
    )
    p.add_argument(
        "--legacy-docs-sizes", type=int, nargs="+", default=[8_000, 32_000, 128_000]
    )
    args = p.parse_args()

    from pyspark.sql import functions as F

    from architxt_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark("scalebench", cores=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")

    # host-speed stamp (same probes as bench.py): rung EXPONENTS are
    # load-robust, absolute µs/doc are not — every table this harness
    # prints now carries the host speed it was measured on, so
    # cross-round comparisons of absolute numbers can divide drift out
    import bench as _bench

    _bench._calib_spark(spark, args.cpus)  # warm the scheduler once
    print(
        f"# calib_cpu={_bench._calib_cpu():.3f}s"
        f" calib_spark={min(_bench._calib_spark(spark, args.cpus) for _ in range(2)):.3f}s",
        file=sys.stderr, flush=True,
    )

    from architxt_spark.functions.ann import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
        lsh_topk,
        train_codebook,
    )
    from architxt_spark.functions.curation import curate_corpus
    from architxt_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        winnow_pairs,
    )

    os.makedirs(args.workdir, exist_ok=True)
    results: dict[str, list[tuple[int, float]]] = {}

    for n in args.sizes if "core" in args.families else []:
        doc_path = f"{args.workdir}/docs_{n}"
        emb_n = max(500, n * 2 // 5)
        emb_path = f"{args.workdir}/emb_{emb_n}"
        if not os.path.exists(doc_path):
            gen_documents(spark, n).repartition(int(args.cpus)).write.mode(
                "overwrite"
            ).parquet(doc_path)
        if not os.path.exists(emb_path):
            gen_embeddings(spark, emb_n).repartition(int(args.cpus)).write.mode(
                "overwrite"
            ).parquet(emb_path)
        docs = spark.read.parquet(doc_path)
        embs = spark.read.parquet(emb_path)
        # constant ~100-query workload at every size: the curve then
        # isolates CORPUS scaling (a %-of-corpus query set would grow the
        # work quadratically between rungs and mask the per-vector cost)
        queries = embs.filter(F.col("vec_id") % max(1, emb_n // 100) == 0)
        # IVF production posture: cells ~ sqrt(n) keeps per-cell lists flat
        n_cells = max(16, int(emb_n ** 0.5 / 2))
        # the persisted-index path (100-TB posture: index built ONCE, each
        # query batch pays partition-pruned probing only)
        idx_path = f"{args.workdir}/ivfidx_{emb_n}"
        cb = train_codebook(embs, n_cells=n_cells, iterations=1)
        if not os.path.exists(idx_path):
            build_ivf_index(embs, cb, idx_path)
        bench = docs.filter(F.col("doc_id") % 997 == 0).select("doc_id", "text")
        ref = docs.filter(F.col("doc_id") % 97 == 3).select("doc_id", "text")
        pos = docs.filter(F.col("doc_id") % 211 == 1).select("doc_id", "text")
        neg = docs.filter(F.col("doc_id") % 211 == 2).select("doc_id", "text")

        ops = {
            "curate_full": lambda: curate_corpus(
                docs,
                domain_col="source",
                decontaminate_against=bench,
                ppl_drop_tail=True,
                ppl_train_docs=ref,
                quality_model_pos=pos,
                quality_model_neg=neg,
                mixture_col="lang",
                mixture_total=n // 4,
                mixture_strata=["en", "fr", "de"],
                pack_token_col="n_chars",
                pack_budget=4096,
                salt="sb",
            )[1].collect(),
            # production shape: max_band_df mirrors the registry/dedup_filter
            # cap — UNCAPPED, the 25% template share makes hot bands O(M²)
            # (measured 1.1 s at 50k -> 98 s at 200k, exponent ~3.2; the cap
            # is the designed answer to exactly that blowup)
            "dedup_minhash_lsh": lambda: minhash_lsh_pairs(
                docs, "text", "doc_id", max_band_df=1000
            ).count(),
            "dedup_ngram_jaccard": lambda: ngram_jaccard_pairs(
                docs, "text", "doc_id"
            ).count(),
            "dedup_winnow": lambda: winnow_pairs(docs, "text", "doc_id").count(),
            "ann_lsh_topk": lambda: lsh_topk(embs, queries, k=10, dim=64).count(),
            # in-memory IVF: per-call cost INCLUDES the n×√n-cells corpus
            # assignment (the index build) — expected ~n^1.5
            "ann_ivf_topk": lambda: ivf_topk(
                embs, queries, k=10, n_cells=n_cells
            ).count(),
            # persisted-index IVF: query-batch cost only (partition-pruned
            # probe) — the flat curve the 100-TB serving path rides
            "ann_ivf_indexed": lambda: ivf_topk_indexed(
                spark, idx_path, queries, cb, k=10
            ).count(),
        }
        for name, fn in ops.items():
            fn()  # warm: codegen/JIT + any persisted index build
            sec = time_op(fn, args.repeats)
            results.setdefault(name, []).append((n, sec))
            print(f"# {name} n={n}: {sec:.2f}s", file=sys.stderr, flush=True)

    if "rewrite" in args.families:
        # The reference's actual "query": the iterative forest-fixpoint
        # rewrite.  Fixed epoch=2 so every rung pays the same number of
        # iterations; the exponent is on SEC/ITERATION (each iteration =
        # reduce Arrow pass -> cluster-index collect -> probe pass with
        # the fused per-tree find_groups at its head).
        from architxt_spark.operators.engine import rewrite

        for n in args.rewrite_sizes:
            forest_path = f"{args.workdir}/forest_{n}"
            if not os.path.exists(forest_path):
                gen_forest(spark, gen_documents_dist(spark, n), int(args.cpus)) \
                    .write.mode("overwrite").parquet(forest_path)
            forest = spark.read.parquet(forest_path)

            def run_rewrite():
                iters = []
                rewrite(forest, epoch=2, on_iteration=iters.append).count()
                return len(iters)

            n_iters = run_rewrite()  # warm + iteration count
            sec = time_op(run_rewrite, args.repeats)
            per_iter = sec / max(n_iters, 1)
            results.setdefault("rewrite_fixpoint_iter", []).append((n, per_iter))
            print(
                f"# rewrite_fixpoint n={n}: {sec:.2f}s total,"
                f" {per_iter:.2f}s/iter ({n_iters} iters)",
                file=sys.stderr, flush=True,
            )

    if "warc" in args.families:
        # Rate-measure the one operator that touches every byte of a
        # crawl (r9 verdict): generated multi-member .warc.gz + full CDX
        # sidecar at growing sizes, read through read_warc_split —
        # MB/s/core on compressed bytes, split parity vs the whole-file
        # reader.  Payloads are base64 of seeded random bytes wrapped in
        # HTML (incompressible, so compressed size ≈ bytes generated,
        # and html_to_text does real extraction work per record).
        import base64
        import gzip as _gzip

        from architxt_spark.sources.warc import build_warc, read_warc, read_warc_split

        for mb in args.warc_sizes_mb:
            gz_path = f"{args.workdir}/crawl_{mb}mb.warc.gz"
            if not os.path.exists(gz_path):
                rng = random.Random(mb)
                blobs, offs, pos = [], [], 0
                n_members = max(8, mb // 2)  # ~2 MB members
                per_member = (mb << 20) // n_members
                rec_payload = 24 << 10  # ~32 KB base64 text per record
                n_rec = max(1, per_member // ((rec_payload * 4) // 3))
                for m in range(n_members):
                    recs = [
                        {
                            "warc_type": "response",
                            "target_uri": f"http://crawl.example/{m}/{r}",
                            "payload": b"<html><body><p>"
                            + base64.b64encode(rng.randbytes(rec_payload))
                            + b"</p></body></html>",
                        }
                        for r in range(n_rec)
                    ]
                    blob = _gzip.compress(build_warc(recs), compresslevel=1)
                    blobs.append(blob)
                    offs.append((pos, len(blob)))
                    pos += len(blob)
                with open(gz_path, "wb") as f:
                    for b in blobs:
                        f.write(b)
                with open(gz_path + ".idx", "w") as f:
                    f.write("\n".join(f"{o} {ln}" for o, ln in offs))
            size_mb = os.path.getsize(gz_path) / (1 << 20)

            # 8 MB splits: the default 128 MB (right at cluster scale)
            # would tile these rungs into 1-2 tasks and measure a single
            # core; 8 MB gives size/8 tasks — the parallel rate
            fn = lambda: read_warc_split(  # noqa: E731
                spark, gz_path, split_bytes=8 << 20
            ).agg(F.sum(F.length("text"))).collect()[0][0]
            fn()
            sec = time_op(fn, args.repeats)
            # split parity: the byte-range tasks see exactly the records
            # the whole-file reader sees
            n_split = read_warc_split(spark, gz_path, split_bytes=8 << 20).count()
            n_whole = read_warc(spark, gz_path).count()
            assert n_split == n_whole, (n_split, n_whole)
            rate = size_mb / sec
            results.setdefault("warc_scan", []).append((int(size_mb), sec))
            print(
                f"# warc_scan {size_mb:.0f}MB: {sec:.2f}s = {rate:.0f} MB/s "
                f"({rate / int(args.cpus):.1f} MB/s/core, {n_split} records, "
                f"split parity ok)",
                file=sys.stderr, flush=True,
            )

    if "ann_serving" in args.families:
        # The r9 verdict's serving-regime measurement: √n cells (not 16),
        # a query batch ≪ cells, so nprobe/n_cells partition pruning
        # actually bites — recall@k AND probe wall-clock per rung, plus
        # the one-time build cost as its own number.
        from architxt_spark.functions.ann import (
            ann_recall,
            build_ivf_index,
            ivf_topk_indexed,
            train_codebook,
        )

        for n in args.ann_serving_sizes:
            emb_path = f"{args.workdir}/embs_dist_{n}"
            if not os.path.exists(emb_path):
                gen_embeddings_dist(spark, n).repartition(int(args.cpus)).write.mode(
                    "overwrite"
                ).parquet(emb_path)
            embs = spark.read.parquet(emb_path)
            n_cells = max(16, int(n ** 0.5))
            queries = embs.filter(F.col("vec_id") % max(1, n // 16) == 1)
            batch = queries.count()  # ~16 — batch·nprobe ≪ n_cells

            idx_path = f"{args.workdir}/ivfserve_{n}"
            t0 = time.perf_counter()
            cb = train_codebook(embs, n_cells=n_cells, iterations=1)
            build_ivf_index(embs, cb, idx_path)
            build_s = time.perf_counter() - t0

            # fixed nprobe=4 shows pruning's cost curve; the SCALED probe
            # (a fixed ~6% of cells) is what an operator deploys — recall
            # must hold there as cells grow
            nprobe_scaled = max(4, n_cells // 16)
            legs = {}
            for tag, np_ in (("fixed4", 4), ("scaled", nprobe_scaled)):
                fn = lambda: ivf_topk_indexed(  # noqa: E731
                    spark, idx_path, queries, cb, k=10, nprobe=np_
                ).count()
                fn()
                probe_s = time_op(fn, args.repeats)
                rec = (
                    ann_recall(
                        embs, queries, dim=64, k=10, methods=("indexed",),
                        index_path=idx_path, centroids=cb, nprobe=np_,
                    )
                    .agg(F.avg("recall")).collect()[0][0]
                )
                legs[tag] = (np_, probe_s, rec)
            results.setdefault("ann_serving_probe", []).append(
                (n, legs["scaled"][1])
            )
            print(
                f"# ann_serving n={n}: cells={n_cells} batch={batch} "
                f"build={build_s:.2f}s | nprobe=4: {legs['fixed4'][1]:.2f}s "
                f"recall@10={legs['fixed4'][2]:.3f} | "
                f"nprobe={nprobe_scaled}: {legs['scaled'][1]:.2f}s "
                f"recall@10={legs['scaled'][2]:.3f}",
                file=sys.stderr, flush=True,
            )

    if "graph" in args.families:
        # read_graph's level-synchronous BFS (sources/graph.py:_traverse)
        # — the last iterative engine without a measured scale family.
        # Bounded root set (trees are per-root; real loads carry a
        # bounded root table over an arbitrarily large edge set), 7 BFS
        # levels over the layered hub-skewed graph.  Two measurements
        # per rung: depth-1 (one frontier×edges probe, no visited-set
        # pressure) and depth-7 end-to-end; (t7 − t1)/6 names the
        # steady-state per-level cost, which is one persisted-edge probe
        # + one anti-join against the GROWING reached set.
        from architxt_spark.sources.graph import _traverse

        for n in args.graph_sizes:
            path = f"{args.workdir}/graph_{n}"
            if not os.path.exists(path):
                gen_layered_graph(spark, n).repartition(int(args.cpus)).write.mode(
                    "overwrite"
                ).parquet(path)
            rels = spark.read.parquet(path)
            per = max(n // 4, 8 * 256) // 8
            stride = max(per // args.graph_roots, 1)
            roots = (
                spark.range(args.graph_roots)
                .select((F.col("id") * stride).cast("long").alias("id"))
                .withColumn("tree_id", F.col("id").cast("string"))
            )

            def run(depth):
                reached, edges = _traverse(roots, rels, depth)
                return reached.count()

            run(7)  # warm (parquet cache, persisted edge frame path)
            t1 = time_op(lambda: run(1), args.repeats)
            t7 = time_op(lambda: run(7), args.repeats)
            n_reached = run(7)
            per_level = (t7 - t1) / 6
            results.setdefault("graph_bfs_7lvl", []).append((n, t7))
            print(
                f"# graph_bfs n_edges={n}: depth1={t1:.2f}s depth7={t7:.2f}s"
                f" per_level={per_level:.2f}s reached={n_reached}",
                file=sys.stderr, flush=True,
            )

    if "crawl_media" in args.families:
        # The GB-rung crawl→image-dedup composite (r12 verdict #6): the
        # components are measured separately (WARC scan ~260 MB/s/node,
        # decode ~8.5k small-img/s); this composes them at archive scale
        # — ~100k REAL encoded images (192×160 grayscale, PNG/JPEG/
        # progressive-JPEG/GIF by id%4, ~15 KB avg, id%8==7 duplicates
        # its neighbor so the band join yields pairs) wrapped into
        # 2·cpus .warc.gz shards (one gzip member per record, the
        # splittable shape), then read_warc(binary) → content-type gate
        # → decode+perceptual-hash → Hamming-banded pairs, end to end.
        from architxt_spark.functions.imagehash import hamming_near_dup, image_hashes
        from architxt_spark.sources.warc import read_warc

        for n in args.crawl_media_sizes:
            shard_dir = f"{args.workdir}/mediacrawl_{n}"
            shards = 2 * int(args.cpus)
            if not os.path.exists(f"{shard_dir}/_DONE"):
                os.makedirs(shard_dir, exist_ok=True)

                def write_shard(batches, _dir=shard_dir):
                    import gzip

                    import pandas as pd

                    from architxt_spark.functions.jpeg import make_jpeg_bytes
                    from architxt_spark.functions.multimodal import (
                        make_gif_bytes,
                        make_png_bytes,
                    )
                    from architxt_spark.sources.warc import build_warc

                    W, H = 192, 160
                    palette = bytes(b for v in range(256) for b in (v, v, v))

                    def img(d):
                        base = d - 1 if d % 8 == 7 else d  # exact-dup pairs

                        def val(r, c):
                            z = base * 73 + r * 9 + c
                            return ((z * z + 3 * z) % 7919) % 192

                        px = bytes(
                            val(y // 4, x // 4) for y in range(H) for x in range(W)
                        )
                        m = base % 4
                        if m == 0:
                            return make_png_bytes(W, H, px, color_type=0,
                                                  filter_type=base % 5), "image/png"
                        if m == 1:
                            return make_jpeg_bytes(W, H, px, channels=1), "image/jpeg"
                        if m == 2:
                            return make_jpeg_bytes(W, H, px, channels=1,
                                                   progressive=True), "image/jpeg"
                        return make_gif_bytes(W, H, px, palette), "image/gif"

                    f = None
                    nbytes = 0
                    path = ""
                    for pdf in batches:
                        if f is None:
                            pid = int(pdf["id"].iloc[0])
                            path = f"{_dir}/media-{pid}.warc.gz"
                            f = open(path, "wb")
                            noise = build_warc([{
                                "warc_type": "warcinfo", "target_uri": "",
                                "payload": b"software: media-crawler\r\n",
                                "content_type": "application/warc-fields",
                            }])
                            f.write(gzip.compress(noise, 1))
                        for d in pdf["id"]:
                            d = int(d)
                            payload, ctype = img(d)
                            rec = build_warc([{
                                "warc_type": "response",
                                "target_uri": f"img:{d}",
                                "payload": payload,
                                "content_type": ctype,
                            }])
                            nbytes += f.write(gzip.compress(rec, 1))
                    if f is not None:
                        f.close()
                    yield pd.DataFrame([(path, nbytes)], columns=["path", "nbytes"])

                (
                    spark.range(n)
                    .repartition(shards)
                    .mapInPandas(write_shard, "path string, nbytes long")
                    .collect()
                )
                open(f"{shard_dir}/_DONE", "w").close()
            total_mb = sum(
                os.path.getsize(f"{shard_dir}/{p}")
                for p in os.listdir(shard_dir)
                if p.endswith(".warc.gz")
            ) / 1e6

            def run(_dir=shard_dir):
                recs = read_warc(spark, f"{_dir}/*.warc.gz", extract_text=False)
                media = recs.filter(
                    F.col("content_type").startswith("image/")
                ).select(
                    F.regexp_extract("target_uri", r"^img:(\d+)$", 1).alias("media_id"),
                    F.col("payload").alias("content"),
                )
                hashes = image_hashes(media).persist()
                n_hashes = hashes.count()
                n_pairs = hamming_near_dup(hashes, bands=4, max_hamming=3).count()
                hashes.unpersist()
                return n_hashes, n_pairs

            run()  # warm
            sec = time_op(run, args.repeats)
            n_hashes, n_pairs = run()
            results.setdefault("crawl_media_composite", []).append((n, sec))
            print(
                f"# crawl_media n_imgs={n}: {sec:.2f}s archive={total_mb:.0f}MB"
                f" ({total_mb / sec:.0f} MB/s, {n / sec:.0f} img/s)"
                f" hashes={n_hashes} pairs={n_pairs}",
                file=sys.stderr, flush=True,
            )

    if "pagerank" in args.families:
        # Pregel-shaped integer PageRank: 3 chained shuffle-join rounds
        # over a barriered edge frame; exponent on sec (iterations fixed,
        # so per-iteration and total scale identically).
        from architxt_spark.functions.linkgraph import pagerank

        for n in args.pagerank_sizes:
            edge_path = f"{args.workdir}/edges_{n}"
            if not os.path.exists(edge_path):
                gen_edges(spark, n).repartition(int(args.cpus)).write.mode(
                    "overwrite"
                ).parquet(edge_path)
            edges = spark.read.parquet(edge_path)
            fn = lambda: pagerank(edges, iters=3, redistribute_dangling=True).count()  # noqa: E731
            fn()
            sec = time_op(fn, args.repeats)
            results.setdefault("pagerank_3iter", []).append((n, sec))
            print(f"# pagerank_3iter n_edges={n}: {sec:.2f}s", file=sys.stderr, flush=True)

    if "curate_big" in args.families:
        # The 4th curate_full rung the r8 verdict asked for: past 200k
        # the 32-core parallelism headroom is spent, so this is where the
        # exponent should turn toward work-linear (~1.0).  Same skew
        # recipe through the distributed generator; the 200k rung reruns
        # under the SAME generator so the 200k->1M exponent is
        # apples-to-apples.
        for n in args.curate_big_sizes:
            doc_path = f"{args.workdir}/docs_dist_{n}"
            if not os.path.exists(doc_path):
                gen_documents_dist(spark, n).repartition(int(args.cpus)).write.mode(
                    "overwrite"
                ).parquet(doc_path)
            docs = spark.read.parquet(doc_path)
            bench = docs.filter(F.col("doc_id") % 997 == 0).select("doc_id", "text")
            ref = docs.filter(F.col("doc_id") % 97 == 3).select("doc_id", "text")
            pos = docs.filter(F.col("doc_id") % 211 == 1).select("doc_id", "text")
            neg = docs.filter(F.col("doc_id") % 211 == 2).select("doc_id", "text")
            fn = lambda: curate_corpus(  # noqa: E731
                docs,
                domain_col="source",
                decontaminate_against=bench,
                ppl_drop_tail=True,
                ppl_train_docs=ref,
                quality_model_pos=pos,
                quality_model_neg=neg,
                mixture_col="lang",
                mixture_total=n // 4,
                mixture_strata=["en", "fr", "de"],
                pack_token_col="n_chars",
                pack_budget=4096,
                salt="sb",
            )[1].collect()
            fn()
            sec = time_op(fn, args.repeats)
            results.setdefault("curate_full_dist", []).append((n, sec))
            print(f"# curate_full_dist n={n}: {sec:.2f}s", file=sys.stderr, flush=True)

    if "dedup" in args.families:
        # r11 verdict #6: scaling curves for the top-of-funnel pair
        # generators under Zipf-duplicated boilerplate — the hot-band
        # quadratic blowup is their known 100-TB failure mode; the DF
        # caps exist (max_band_df / max_shingle_df) but were unrehearsed
        # at scale.  Capped runs at every rung (exponent should hold
        # ≤ ~1); the uncapped A/B runs at the SMALLEST rung only (the
        # hot buckets are genuinely quadratic — rank-1 boilerplate alone
        # is ~3% of the corpus).
        from architxt_spark.functions.dedup import exact_span_pairs

        cap = args.dedup_band_cap
        for n in args.dedup_sizes:
            doc_path = f"{args.workdir}/docs_zipf_{n}"
            if not os.path.exists(doc_path):
                gen_documents_zipf(spark, n).repartition(int(args.cpus)).write.mode(
                    "overwrite"
                ).parquet(doc_path)
            docs = spark.read.parquet(doc_path)
            ops = {
                "minhash_pairs_capped": lambda: minhash_lsh_pairs(
                    docs, "text", "doc_id", max_band_df=cap
                ).count(),
                "ngram_pairs_capped": lambda: ngram_jaccard_pairs(
                    docs, "text", "doc_id", max_shingle_df=cap
                ).count(),
                "span_pairs_capped": lambda: exact_span_pairs(
                    docs, "text", "doc_id", max_shingle_df=cap
                ).count(),
            }
            if n == min(args.dedup_sizes):
                ops["minhash_pairs_uncapped"] = lambda: minhash_lsh_pairs(
                    docs, "text", "doc_id"
                ).count()
            for name, fn in ops.items():
                n_pairs = fn()
                sec = time_op(fn, args.repeats)
                results.setdefault(name, []).append((n, sec))
                print(
                    f"# {name} n={n}: {sec:.2f}s ({n_pairs} pairs)",
                    file=sys.stderr, flush=True,
                )

    if "legacy_docs" in args.families:
        # r14: the legacy-format readers (.doc piece tables, .ppt record
        # trees, RTF control words, .eml MIME, HTML block extraction,
        # EPUB spine, .dbf fixed-width records) all run per-row inside
        # the Arrow boundary — rate-measure one encode pass (persisted)
        # then the decode-everything scan, like the multimodal family.
        def gen_legacy(batches):
            import pandas as pd

            from architxt_spark.sources.dbf import make_dbf_bytes
            from architxt_spark.sources.mail import make_eml_bytes
            from architxt_spark.sources.ppt import make_ppt_bytes
            from architxt_spark.sources.rtf import make_rtf_bytes
            from architxt_spark.sources.sylk import make_slk_bytes
            from architxt_spark.sources.webdoc import make_epub_bytes
            from architxt_spark.sources.wk1 import make_wk1_bytes
            from architxt_spark.sources.worddoc import make_doc_bytes

            for pdf in batches:
                rows = []
                for d in pdf["id"]:
                    d = int(d)
                    paras = [
                        f"doc {d} paragraph {i} with body text {d * 31 + i}"
                        for i in range(6)
                    ]
                    m = d % 9
                    if m == 0:
                        blob, ext = make_doc_bytes(paras), "doc"
                    elif m == 1:
                        blob, ext = make_ppt_bytes(paras), "ppt"
                    elif m == 2:
                        blob, ext = make_rtf_bytes(paras), "rtf"
                    elif m == 3:
                        blob, ext = (
                            make_eml_bytes(f"subject {d}", "\n".join(paras)),
                            "eml",
                        )
                    elif m == 4:
                        body = "".join(f"<p>{p}</p>" for p in paras)
                        blob, ext = (
                            f"<html><body>{body}</body></html>".encode(),
                            "html",
                        )
                    elif m == 5:
                        blob, ext = make_epub_bytes(paras[:3]), "epub"
                    elif m == 6:
                        blob, ext = (
                            make_dbf_bytes(
                                [("NAME", "C", 24), ("N", "N", 8)],
                                [[p[:24], i] for i, p in enumerate(paras)],
                            ),
                            "dbf",
                        )
                    elif m == 7:
                        grid = [["name", "n"]] + [
                            [p[:20], i] for i, p in enumerate(paras)
                        ]
                        blob, ext = make_wk1_bytes(grid), "wk1"
                    else:
                        grid = [["name", "n"]] + [
                            [p[:20], i] for i, p in enumerate(paras)
                        ]
                        blob, ext = make_slk_bytes(grid), "slk"
                    rows.append((str(d), ext, blob))
                yield pd.DataFrame(rows, columns=["doc_id", "ext", "content"])

        def decode_legacy(batches):
            import pandas as pd

            from architxt_spark.sources.dbf import read_dbf_rows
            from architxt_spark.sources.mail import read_eml_text
            from architxt_spark.sources.ppt import read_ppt_slides
            from architxt_spark.sources.rtf import read_rtf_text
            from architxt_spark.sources.sylk import read_slk_rows
            from architxt_spark.sources.webdoc import (
                read_epub_chapters,
                read_html_paragraphs,
            )
            from architxt_spark.sources.wk1 import read_wk1_rows
            from architxt_spark.sources.worddoc import read_doc_paragraphs

            readers = {
                "doc": read_doc_paragraphs, "ppt": read_ppt_slides,
                "rtf": read_rtf_text, "eml": read_eml_text,
                "html": read_html_paragraphs, "epub": read_epub_chapters,
            }
            for pdf in batches:
                rows = []
                for doc_id, ext, blob in zip(
                    pdf["doc_id"], pdf["ext"], pdf["content"]
                ):
                    blob = bytes(blob)
                    if ext in ("dbf", "wk1", "slk"):
                        tab = {
                            "dbf": read_dbf_rows, "wk1": read_wk1_rows,
                            "slk": read_slk_rows,
                        }[ext](blob)
                        n = sum(
                            len(v)
                            for rs in tab.values()
                            for r in rs
                            for v in r.values()
                        )
                    else:
                        n = sum(len(p) for p in readers[ext](blob))
                    rows.append((doc_id, n))
                yield pd.DataFrame(rows, columns=["doc_id", "n_chars"])

        for n in args.legacy_docs_sizes:
            corpus = (
                spark.range(n).repartition(int(args.cpus))
                .mapInPandas(gen_legacy, "doc_id string, ext string, content binary")
                .persist()
            )
            mb = corpus.agg(F.sum(F.length("content"))).collect()[0][0] / (1 << 20)
            fn = lambda _c=corpus: _c.mapInPandas(  # noqa: E731
                decode_legacy, "doc_id string, n_chars long"
            ).agg(F.sum("n_chars")).collect()
            assert fn()[0][0] > 0
            sec = time_op(fn, args.repeats)
            results.setdefault("legacy_docs_scan", []).append((n, sec))
            print(
                f"# legacy_docs_scan n={n}: {sec:.2f}s = {n / sec:.0f} docs/s"
                f" ({mb / sec:.0f} MB/s)",
                file=sys.stderr, flush=True,
            )
            corpus.unpersist()

    if "components" in args.families:
        # r13 verdict #4: the one iterative engine without a measured
        # family.  Hash-min label propagation over the REAL near-dup pair
        # graphs the Zipf corpora produce (minhash+LSH, capped bands) —
        # pairs are PREBUILT and persisted so the rung times label
        # propagation alone; the generators have their own `dedup`
        # family.  Reported per rung: total sec (exponent on PAIR count,
        # the propagation's true input size), rounds-to-fixpoint, and
        # s/round — the per-round cost is one edge-label shuffle join +
        # one map-combinable groupBy-min, so s/round should scale ~linear
        # in pairs and rounds should track component DIAMETER (shallow
        # stars under Zipf duplication), not corpus size.
        from architxt_spark.functions.dedup import connected_components

        cap = args.dedup_band_cap
        for n in args.dedup_sizes:
            doc_path = f"{args.workdir}/docs_zipf_{n}"
            if not os.path.exists(doc_path):
                gen_documents_zipf(spark, n).repartition(int(args.cpus)).write.mode(
                    "overwrite"
                ).parquet(doc_path)
            pair_path = f"{args.workdir}/pairs_zipf_{n}"
            if not os.path.exists(pair_path):
                minhash_lsh_pairs(
                    spark.read.parquet(doc_path), "text", "doc_id",
                    max_band_df=cap,
                ).write.mode("overwrite").parquet(pair_path)
            pairs = spark.read.parquet(pair_path)
            n_pairs = pairs.count()
            rounds: list[int] = []

            def fn(_pairs=pairs, _rounds=rounds):
                _rounds.clear()
                return connected_components(
                    _pairs, iteration_log=_rounds
                ).count()

            n_vertices = fn()
            sec = time_op(fn, args.repeats)
            n_rounds = max(len(rounds), 1)
            results.setdefault("components_label_prop", []).append((n_pairs, sec))
            results.setdefault("components_per_round", []).append(
                (n_pairs, sec / n_rounds)
            )
            print(
                f"# components n_docs={n}: {n_pairs} pairs, {n_vertices}"
                f" vertices -> fixpoint in {n_rounds} rounds,"
                f" {sec:.2f}s ({sec / n_rounds:.2f}s/round;"
                f" changed-per-round {rounds})",
                file=sys.stderr, flush=True,
            )

    if "crawl" in args.families:
        # r11 verdict #2: the end-to-end crawl composite — read_warc
        # (streaming gzip members) → status/content-type gate → URI
        # metadata parse → curation chain (quality → near-dedup →
        # decontam → hash split) → write_corpus — composing the measured
        # WARC MB/s with curation throughput in ONE job, the production
        # 100-TB shape the crawl_to_corpus oracle gates at test scale.
        import shutil
        import tempfile

        from architxt_spark.sinks.corpus import write_corpus
        from architxt_spark.sources.warc import read_warc

        for n in args.crawl_sizes:
            arch_dir = f"{args.workdir}/crawl_archives_{n}"
            if not os.path.exists(arch_dir):
                os.makedirs(arch_dir)
                docs = gen_documents_dist(spark, n).repartition(int(args.cpus))

                def write_part(batches, _dir=arch_dir):
                    import gzip as _g

                    import pandas as pd
                    from pyspark import TaskContext

                    from architxt_spark.sources.warc import build_warc

                    pid = TaskContext.get().partitionId()
                    buf, count = [], 0
                    for pdf in batches:
                        for did, text, lang, source in zip(
                            pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
                        ):
                            rec = {
                                "warc_type": "response",
                                "target_uri": f"doc:{did}|{lang}|{source}",
                                "payload": (
                                    f"<html><body><p>{text}</p></body></html>".encode()
                                ),
                                "content_type": "text/html; charset=utf-8",
                            }
                            buf.append(_g.compress(build_warc([rec]), 1))
                            count += 1
                    with open(f"{_dir}/part-{pid:05d}.warc.gz", "wb") as f:
                        f.write(b"".join(buf))
                    yield pd.DataFrame({"n": [count]})

                docs.mapInPandas(write_part, "n long").agg(F.sum("n")).collect()
            size_mb = sum(
                os.path.getsize(os.path.join(arch_dir, f)) for f in os.listdir(arch_dir)
            ) / (1 << 20)

            def run_crawl(_dir=arch_dir):
                recs = read_warc(spark, _dir)
                crawled = recs.filter(
                    (F.col("http_status") == 200)
                    & F.col("content_type").contains("html")
                ).select(
                    F.regexp_extract("target_uri", r"^doc:(\d+)\|", 1)
                    .cast("long").alias("doc_id"),
                    "text",
                    F.regexp_extract("target_uri", r"\|([^|]*)\|", 1).alias("lang"),
                    F.regexp_extract("target_uri", r"\|([^|]*)$", 1).alias("source"),
                )
                crawled = crawled.persist()  # default MEMORY_AND_DISK:
                # overflow spills to disk instead of evict-and-reparse
                crawled.count()  # land-the-crawl barrier: every curation
                # consumer would otherwise re-run the Python WARC parse
                # r12 (#4): record where the landed crawl actually lives —
                # a silent spill here is the 1M-rung's failure mode
                for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
                    if info.numCachedPartitions():
                        print(
                            f"#   landed crawl cache: {info.memSize() / (1 << 20):.0f} MB mem"
                            f" + {info.diskSize() / (1 << 20):.0f} MB disk over"
                            f" {info.numCachedPartitions()} partitions",
                            file=sys.stderr, flush=True,
                        )
                bench = crawled.filter(F.col("doc_id") % 997 == 0).select("doc_id", "text")
                kept, _census = curate_corpus(
                    crawled,
                    decontaminate_against=bench,
                    split_map={"train": 0.9, "valid": 0.1},
                    salt="sb",
                )
                out = tempfile.mkdtemp(prefix="sb_corpus_")
                try:
                    manifest = write_corpus(
                        kept.select("doc_id", "text", "lang", "source", "split"),
                        f"{out}/corpus",
                        partition_cols=["split"],
                    )
                    return manifest.count()
                finally:
                    shutil.rmtree(out, ignore_errors=True)
                    crawled.unpersist()

            run_crawl()
            sec = time_op(run_crawl, args.repeats)
            results.setdefault("crawl_to_corpus", []).append((n, sec))
            print(
                f"# crawl_to_corpus n={n}: {sec:.2f}s = {size_mb / sec:.0f} MB/s "
                f"end-to-end ({size_mb:.0f} MB gz in)",
                file=sys.stderr, flush=True,
            )

    if "multimodal" in args.families:
        # Rate-measure the pure-Python codecs behind the Arrow boundary
        # (r11: progressive JPEG joined the decode matrix): a mixed-format
        # media corpus generated IN Spark (one encode pass, persisted),
        # then the two hashing scans that decode every byte —
        # image_hashes (PNG all-filters / baseline JPEG / PROGRESSIVE
        # JPEG / GIF-LZW by id%4) and audio_fingerprints (1040-sample
        # WAVs).  Objects/s and the size exponent are the capacity-plan
        # numbers for a decode-everything corpus pass.
        from architxt_spark.functions.audiohash import audio_fingerprints
        from architxt_spark.functions.imagehash import image_hashes

        def gen_images(batches):
            import pandas as pd

            from architxt_spark.functions.jpeg import make_jpeg_bytes
            from architxt_spark.functions.multimodal import (
                make_gif_bytes,
                make_png_bytes,
            )
            from architxt_spark.functions.tiff import make_tiff_bytes

            palette = bytes(b for v in range(256) for b in (v, v, v))
            for pdf in batches:
                rows = []
                for d in pdf["id"]:
                    d = int(d)

                    def val(r, c):
                        z = d * 73 + r * 9 + c
                        return ((z * z + 3 * z) % 7919) % 192

                    px = bytes(
                        val(y // 8, x // 8) for y in range(64) for x in range(72)
                    )
                    # r14.5: TIFF-LZW and ARITHMETIC JPEG join the
                    # decode matrix (the sniff dispatch routes them)
                    m = d % 6
                    if m == 0:
                        content = make_png_bytes(72, 64, px, color_type=0, filter_type=d % 5)
                    elif m == 1:
                        content = make_jpeg_bytes(72, 64, px, channels=1)
                    elif m == 2:
                        content = make_jpeg_bytes(72, 64, px, channels=1, progressive=True)
                    elif m == 3:
                        content = make_gif_bytes(72, 64, px, palette)
                    elif m == 4:
                        content = make_tiff_bytes(72, 64, px, compression=5)
                    else:
                        content = make_jpeg_bytes(
                            72, 64, px, channels=1, arithmetic=True
                        )
                    rows.append((str(d), content))
                yield pd.DataFrame(rows, columns=["media_id", "content"])

        def gen_audio(batches):
            import pandas as pd

            from architxt_spark.functions.multimodal import make_wav_bytes

            for pdf in batches:
                rows = []
                for d in pdf["id"]:
                    d = int(d)
                    vals = [
                        (((d * 131 + f) ** 2 + 3 * (d * 131 + f)) % 2001) - 1000
                        for f in range(1040)
                    ]
                    rows.append((str(d), make_wav_bytes(1, 8000, 1040, samples=[vals])))
                yield pd.DataFrame(rows, columns=["media_id", "content"])

        for n in args.multimodal_sizes:
            base = spark.range(n).repartition(int(args.cpus))
            images = base.mapInPandas(
                gen_images, "media_id string, content binary"
            ).persist()
            clips = base.mapInPandas(
                gen_audio, "media_id string, content binary"
            ).persist()
            img_mb = images.agg(F.sum(F.length("content"))).collect()[0][0] / (1 << 20)
            wav_mb = clips.agg(F.sum(F.length("content"))).collect()[0][0] / (1 << 20)

            fn_img = lambda _df=images: image_hashes(_df).count()  # noqa: E731
            assert fn_img() == n  # every format decodes
            sec = time_op(fn_img, args.repeats)
            results.setdefault("image_hash_scan", []).append((n, sec))
            print(
                f"# image_hash_scan n={n}: {sec:.2f}s = {n / sec:.0f} img/s "
                f"({img_mb / sec:.0f} MB/s decoded across png/jpeg/prog/gif)",
                file=sys.stderr, flush=True,
            )
            fn_wav = lambda _df=clips: audio_fingerprints(_df).count()  # noqa: E731
            assert fn_wav() == n
            sec = time_op(fn_wav, args.repeats)
            results.setdefault("audio_fp_scan", []).append((n, sec))
            print(
                f"# audio_fp_scan n={n}: {sec:.2f}s = {n / sec:.0f} clips/s "
                f"({wav_mb / sec:.0f} MB/s PCM)",
                file=sys.stderr, flush=True,
            )
            images.unpersist()
            clips.unpersist()

    print("\n| operator | n_docs | sec | µs/doc | exponent |")
    print("|---|---|---|---|---|")
    for name, series in results.items():
        prev = None
        for n, sec in series:
            if prev is None:
                exp = ""
            else:
                pn, ps = prev
                exp = f"{math.log(sec / ps) / math.log(n / pn):.2f}"
            print(f"| {name} | {n} | {sec:.2f} | {sec / n * 1e6:.1f} | {exp} |")
            prev = (n, sec)


if __name__ == "__main__":
    main()
