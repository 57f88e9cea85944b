"""Streaming-ingest scale rehearsal: does per-batch cost stay flat as
the persistent state grows?

The bounded-state claims of the streaming corpus operators are design
arguments (append-only band index, bitmap words, band-key semi-joins);
this harness measures them: it drives ``minhash_dedup_batch`` (and the
Bloom URL filter) through K consecutive micro-batches of fresh
documents and records per-batch wall-clock against the accumulated
index size.  A flat (or logarithmic) curve validates the contract; a
linear curve means per-batch work scans the whole history and the
operator would degrade over a long-running ingestion.

Usage::

    python tools/streambench.py [--batches 24] [--batch-size 2000]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(__file__))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--batches", type=int, default=24)
    p.add_argument("--batch-size", type=int, default=2000)
    p.add_argument(
        "--bloom-bits", type=int, default=0,
        help="enable the bounded-state Bloom tier with this bitmap size "
        "(0 = exact parquet-index probe)",
    )
    p.add_argument(
        "--bloom-override", action="store_true",
        help="keep ingesting past the saturation REFUSE threshold "
        "(reproduces the r11.5 silent-over-drop measurement; without "
        "this the guard stops the rung when the bitmap saturates)",
    )
    p.add_argument(
        "--seed-docs", type=int, default=0,
        help="bulk-seed the band index with this many documents' bands "
        "first — simulates a LONG-RUNNING ingest so per-batch cost is "
        "measured against a history much larger than one batch",
    )
    p.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    p.add_argument("--workdir", default="/tmp/streambench")
    args = p.parse_args()

    from architxt_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("streambench", cores=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")

    # host-speed stamp (see bench.py / scalebench.py): per-batch times
    # are only comparable across rounds when divided by host drift
    import bench as _bench

    _bench._calib_spark(spark, args.cpus)
    print(
        f"# calib_cpu={_bench._calib_cpu():.3f}s"
        f" calib_spark={min(_bench._calib_spark(spark, args.cpus) for _ in range(2)):.3f}s",
        file=sys.stderr, flush=True,
    )

    from scalebench import gen_documents_dist

    from architxt_spark.streaming.corpus import minhash_dedup_batch

    shutil.rmtree(args.workdir, ignore_errors=True)
    os.makedirs(args.workdir)
    index_path = f"{args.workdir}/band_index"

    n, k = args.batch_size, args.batches

    if args.seed_docs:
        # one bulk job through the SAME signature pipeline the batches
        # use; ids offset far above the batch range so seeds never
        # collide with the measured batches' ids
        from pyspark.sql import functions as F

        from architxt_spark.functions.dedup import _signature_frame, minhash_bands

        seeds = (
            gen_documents_dist(spark, args.seed_docs, seed=99)
            .select(
                (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text"
            )
        )
        t0 = time.perf_counter()
        seed_bands = (
            _signature_frame(seeds, "text", "doc_id")
            .select("id", F.explode(minhash_bands(F.col("sig"))).alias("band"))
            .persist()
        )
        seed_bands.select("band", "id").write.mode("append").parquet(index_path)
        if args.bloom_bits:
            from architxt_spark.functions.sketch import bloom_build

            bloom_build(
                seed_bands, "band", n_bits=args.bloom_bits
            ).write.mode("append").parquet(f"{index_path}_bloom")
        seed_bands.unpersist()
        print(
            f"# seeded index with {args.seed_docs} docs' bands "
            f"in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr, flush=True,
        )
    timings: list[float] = []
    kept_total = 0
    # one untimed warm-up batch for JIT/codegen settling (its bands seed
    # the index like any other batch)
    all_docs = gen_documents_dist(spark, n * (k + 1)).select("doc_id", "text")
    for b in range(k + 1):
        lo, hi = b * n, (b + 1) * n
        batch = all_docs.filter(
            (all_docs.doc_id >= lo) & (all_docs.doc_id < hi)
        ).repartition(int(args.cpus))
        t0 = time.perf_counter()
        import warnings as _w

        from architxt_spark.functions.sketch import (
            BloomSaturationError,
            BloomSaturationWarning,
        )

        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always", BloomSaturationWarning)
            try:
                kept = minhash_dedup_batch(
                    batch, index_path,
                    bloom_bits=args.bloom_bits or None,
                    bloom_override=args.bloom_override,
                )
                n_kept = kept.count()
            except BloomSaturationError as e:
                # the guard stops the rung BEFORE the silent over-drop
                # regime (r11.5 rehearsal: 280/2000 kept with no error)
                print(f"# batch {b}: REFUSED — {e}", file=sys.stderr, flush=True)
                break
        for w in caught:
            if issubclass(w.category, BloomSaturationWarning):
                print(f"# batch {b}: WARN — {w.message}", file=sys.stderr, flush=True)
        dt = time.perf_counter() - t0
        if b:
            timings.append(dt)
            kept_total += n_kept
        idx_mb = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(index_path)
            for f in files
        ) / (1 << 20)
        tag = "warmup" if not b else f"batch {b:2d}"
        print(
            f"# {tag}: {dt:5.2f}s  kept {n_kept}/{n}  index {idx_mb:7.1f} MB",
            file=sys.stderr, flush=True,
        )

    head = sum(timings[:4]) / 4
    tail = sum(timings[-4:]) / 4
    print("\n| batches | batch_size | head s/batch | tail s/batch | tail/head |")
    print("|---|---|---|---|---|")
    print(
        f"| {k} | {n} | {head:.2f} | {tail:.2f} | "
        f"x{tail / head:.2f} |"
    )


if __name__ == "__main__":
    main()
