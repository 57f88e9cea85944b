"""Stage profile of the rewrite fixpoint iteration.

Breaks sec/iteration into the three iteration stages ``rewrite``'s
``on_stage`` hook times (reduce Arrow pass — which also runs the previous
iteration's deferred op chain —, cluster signature collect, op-chain
probe with find_groups fused in) at growing forest sizes — names which
term grows fastest (the r9 verdict's question about the 160k-tree rung's
0.60 exponent).

Usage: python tools/rewriteprof.py [--sizes 2500 40000 160000] [--repeats 2]
Prints one stage table row per (size, stage) plus the per-iteration total.
"""

from __future__ import annotations

import argparse
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--sizes", type=int, nargs="+", default=[2500, 40000, 160000])
    p.add_argument("--repeats", type=int, default=2)
    p.add_argument("--epoch", type=int, default=2)
    p.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    p.add_argument("--workdir", default="/tmp/scalebench")
    args = p.parse_args()

    from architxt_spark.session import get_spark
    from tools.scalebench import gen_documents_dist, gen_forest

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark("rewriteprof", cores=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")

    from architxt_spark.operators.engine import rewrite

    os.makedirs(args.workdir, exist_ok=True)
    for n in args.sizes:
        forest_path = f"{args.workdir}/forest_{n}"
        if not os.path.exists(forest_path):
            gen_forest(spark, gen_documents_dist(spark, n), int(args.cpus)) \
                .write.mode("overwrite").parquet(forest_path)
        forest = spark.read.parquet(forest_path)

        def run(collect: bool):
            stages: dict[str, list[float]] = defaultdict(list)
            rewrite(
                forest,
                epoch=args.epoch,
                on_stage=(lambda it, name, s: stages[name].append(s))
                if collect
                else None,
            ).count()
            return stages

        run(False)  # warm: codegen/JIT, shuffle service
        best: dict[str, float] = {}
        best_total = None
        n_iters = 0
        for _ in range(args.repeats):
            stages = run(True)
            n_iters = len(stages["reduce"])
            per_iter = {k: sum(v) / max(n_iters, 1) for k, v in stages.items()}
            tot = sum(per_iter.values())
            if best_total is None or tot < best_total:
                best_total, best = tot, per_iter
        print(f"\n== n={n} trees ({n_iters} iterations, min of {args.repeats}) ==")
        for k in ("reduce", "cluster", "probe"):
            pct = 100.0 * best.get(k, 0.0) / best_total if best_total else 0.0
            print(f"  {k:12s} {best.get(k, 0.0):7.2f} s/iter  {pct:5.1f}%")
        print(f"  {'TOTAL':12s} {best_total:7.2f} s/iter")
        sys.stdout.flush()

    spark.stop()


if __name__ == "__main__":
    main()
