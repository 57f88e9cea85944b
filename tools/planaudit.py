"""Plan audit: sweep every registry query's EXECUTED physical plan for
scale anti-patterns and print one line per query.

Flags (each a known 100-TB failure mode):

- ``CARTESIAN``   — CartesianProduct anywhere (all-pairs work).
- ``NESTEDLOOP``  — BroadcastNestedLoopJoin (sanctioned ONLY for bounded
  broadcast sides: 1-row stats frames, top-k'd / literal query sets —
  every sanctioned site is named in ``SANCTIONED`` with its reason).
- ``GLOBALWINDOW`` — an UNPARTITIONED window whose input subtree reaches
  a parquet scan with no intervening aggregate: the whole scan funnels
  through ONE task.  Partitioned windows over raw data are the normal
  use and are not flagged; unpartitioned windows over bounded aggregate
  frames (histograms, census rows) are fine and not flagged.
- ``N_EXCH``      — exchange (shuffle) count, informational.

Usage::

    python tools/planaudit.py [sf_dir] [query ...]

Exit code 1 if any query raises while planning OR any flag fires outside
the ``SANCTIONED`` allowlist — CI-able.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: query → (flag, reason) pairs that are deliberate plan shapes.
SANCTIONED: dict[str, dict[str, str]] = {
    "gen_instance": {
        "NESTEDLOOP": "range x broadcast TEMPLATE frame (schema-bounded)"
    },
    "ann_suite": {
        # r7 fold of ann_topk + ann_ivf_topk + ann_pq_adc — union of
        # their sanctions: corpus x broadcast QUERY set, broadcast
        # codebook, broadcast ADC lookup tables (all bounded by design)
        "NESTEDLOOP": "broadcast query set / codebook / ADC tables "
        "(all bounded by design)"
    },
    "embedding_near_dup": {
        "NESTEDLOOP": "labelled brute baseline on an id-bounded slice; "
        "the LSH variant is the scale path"
    },
    "semantic_dedup": {
        "NESTEDLOOP": "corpus x broadcast k-means CODEBOOK "
        "(k x d cells, bounded by design; _assign_cells)"
    },
    "ann_recall": {
        "NESTEDLOOP": "composes brute_force_topk's corpus x broadcast "
        "QUERY set (bounded evaluation sample)"
    },
}


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _has_global_window(plan: str) -> bool:
    for chunk in plan.split("windowspecdefinition(")[1:]:
        first_arg = chunk.split(",", 1)[0]
        unpartitioned = " ASC" in first_arg or " DESC" in first_arg
        if not unpartitioned:
            continue
        # raw-scan input: a parquet scan below this window with no
        # aggregate in between (bounded frames always aggregate first)
        scan = chunk.find("Scan parquet")
        agg = chunk.find("HashAggregate")
        if scan != -1 and (agg == -1 or agg > scan):
            return True
    return False


def audit_plan(plan: str) -> list[str]:
    flags: list[str] = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan:
        # the 1-row stats-frame pattern (crossJoin(broadcast(df.agg(...))))
        # plans as BNLJ whose build subtree is a GLOBAL aggregate —
        # "HashAggregate(keys=[]" below the join marker sanctions it
        below = plan.split("BroadcastNestedLoopJoin", 1)[1]
        if "HashAggregate(keys=[]" not in below:
            flags.append("NESTEDLOOP")
    if _has_global_window(plan):
        flags.append("GLOBALWINDOW")
    return flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from architxt_spark.session import get_spark

    spark = get_spark("planaudit", cores=8)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    failures = 0
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            plan = _executed(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — report and continue
            print(f"ERROR {name}: {type(exc).__name__}: {exc}")
            failures += 1
            continue
        flags = audit_plan(plan)
        n_exch = plan.count("Exchange")
        shown = []
        for f in flags:
            reason = SANCTIONED.get(name, {}).get(f)
            if reason:
                shown.append(f"{f}(sanctioned: {reason})")
            else:
                shown.append(f)
                failures += 1
        print(f"{name}\tN_EXCH={n_exch}\t{','.join(shown) or 'ok'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
