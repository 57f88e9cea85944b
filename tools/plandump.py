"""Dump ``explain('formatted')`` for registry queries to files.

Usage::

    python tools/plandump.py <out_dir> <suffix> query [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` per query (the r14 optimization
round's plan evidence: ``plans/r14/<q>_before.txt`` / ``..._after.txt``).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    from architxt_spark.session import get_spark

    spark = get_spark("plandump", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for name in names:
        df = qs[name](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        n_exch = plan.count("Exchange")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(f"# {name} @ {sf} — explain('formatted'); Exchange count: {n_exch}\n")
            f.write(plan)
        print(f"{name}: {n_exch} Exchange, {len(plan)} chars")
    spark.stop()


if __name__ == "__main__":
    main()
