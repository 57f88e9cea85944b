"""A/B benchmark of the JVM NFC seam (verdict r9 task: make the seam's
claimed Arrow-transfer saving a number).

Runs the NFC-touching workloads at $SPARK_GRAFT_SF_DIR twice in one
session — first on the Arrow ``pandas_udf`` fallback, then after
``register_jvm_nfc`` (compiled with the local JDK, attached via ADD
JAR) — and prints min-of-N seconds per leg plus the ratio.

Workloads:
- ``nfc_only``: clean_unicode over the documents text column (isolates
  the normalization stage; forced with a cheap aggregate so the column
  is fully evaluated);
- ``unicode_split``: the registry query (NFC + hygiene + hash split);
- ``curate_unicode``: the curation_pipeline recipe with
  ``unicode_clean=True`` (NFC at the head of the 9-stage chain).

Usage: python tools/jvmnfc_bench.py [--repeats 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _workloads(spark, sf_dir):
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from architxt_spark.functions.curation import curate_corpus
    from architxt_spark.functions.text import clean_unicode

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def nfc_only():
        out = clean_unicode(
            docs.select("doc_id", F.concat("text", F.lit("é")).alias("text")),
            "text",
        )
        return out.agg(F.sum(F.length("text"))).collect()[0][0]

    def unicode_split():
        return E._all_queries()["unicode_split"](spark, sf_dir).count()

    def curate_unicode():
        d = docs.select("doc_id", "text", "lang", "n_chars", "source")
        _, census = curate_corpus(
            d,
            domain_col="source",
            decontaminate_against=d.filter(F.col("doc_id") % 37 == 0).select("doc_id", "text"),
            unicode_clean=True,
        )
        return census.count()

    return {
        "nfc_only": nfc_only,
        "unicode_split": unicode_split,
        "curate_unicode": curate_unicode,
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--repeats", type=int, default=3)
    p.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = p.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from architxt_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("jvmnfc-bench", cores=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")

    from architxt_spark.jvm import JVM_NFC_FUNC, register_jvm_nfc

    def leg(tag):
        results = {}
        for name, fn in _workloads(spark, sf_dir).items():
            fn()  # warm
            best = None
            for _ in range(args.repeats):
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            results[name] = round(best, 3)
            print(f"# {tag} {name}: {best:.3f}s min of {args.repeats}", file=sys.stderr)
        return results

    assert not spark.catalog.functionExists(JVM_NFC_FUNC)
    arrow = leg("arrow")
    register_jvm_nfc(spark)
    assert spark.catalog.functionExists(JVM_NFC_FUNC)
    jvm = leg("jvm")

    print(json.dumps({
        "sf_dir": sf_dir,
        "arrow": arrow,
        "jvm": jvm,
        "ratio_jvm_over_arrow": {
            k: round(jvm[k] / arrow[k], 3) for k in arrow
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
