"""Simplify micro-benchmark — parity with the reference's only perf
harness (``benchmarks/cli.py:26-92``: wall-clock of ``rewrite()`` over N
synthetic trees, knobs τ=0.7, min_support=20, sizes default (100,)).

Usage::

    python tools/simplify_bench.py [size ...]     # default: 100 1000

Per size, builds an UNLABELLED forest (documents row-trees with group
labels stripped — the structure-discovery input shape), runs the fixpoint
``rewrite()`` with the reference's knobs, and prints one JSON line:
``{"size": N, "seconds": S, "iterations": I, "n_nodes": M}``.  The
iteration count comes from the ``on_iteration`` callback, which adds one
census aggregation per iteration and leaves the plan unchanged, so the
timed loop is the one ``pipeline.simplify`` and the CLI run.

These numbers are the engine-level anchor BASELINE.md's "simplify micro"
row calls for; the reference publishes no figures to compare against, so
the first recorded run is the regression bar.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [100, 1000]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from architxt_spark.session import get_spark

    spark = get_spark("architxt-spark-simplify-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from architxt_spark.operators.engine import rewrite

    for size in sizes:
        nodes = entry._unlabelled_doc_forest(spark, sf_dir, limit=size)
        log: list[dict] = []
        t0 = time.perf_counter()
        out = rewrite(
            nodes, tau=0.7, min_support=20, epoch=100, on_iteration=log.append
        )
        n_nodes = out.count()
        dt = time.perf_counter() - t0
        print(
            json.dumps(
                dict(
                    size=size,
                    seconds=round(dt, 3),
                    iterations=len(log),
                    n_nodes=n_nodes,
                )
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
