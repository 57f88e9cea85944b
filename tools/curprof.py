"""Per-barrier wall-clock profile of the curation chain at a given SF.

Monkeypatches ``architxt_spark.session.stage_barrier`` (and the module-
level rebinding inside ``functions.curation``) to time each eager
localCheckpoint, labelling barriers in call order, then runs the
registry's ``curation_pipeline`` / ``crawl_to_corpus`` query once cold
and once warm.  Usage::

    python tools/curprof.py [sf_dir] [query]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import architxt_spark.session as S  # noqa: E402

_orig = S.stage_barrier
_timings: list[tuple[str, float]] = []


def timed_barrier(df, *, eager: bool = True):
    t0 = time.perf_counter()
    out = _orig(df, eager=eager)
    dt = time.perf_counter() - t0
    _timings.append((f"barrier#{len(_timings)}", dt))
    return out


def wrap(module, name):
    fn = getattr(module, name)

    def timed(*a, **k):
        t0 = time.perf_counter()
        out = fn(*a, **k)
        _timings.append((f"call {name} (lazy-build)", time.perf_counter() - t0))
        return out

    setattr(module, name, timed)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    qname = sys.argv[2] if len(sys.argv) > 2 else "curation_pipeline"

    S.stage_barrier = timed_barrier
    import architxt_spark.functions.curation as C

    C.stage_barrier = timed_barrier
    import architxt_spark.functions.dedup as D

    if hasattr(D, "stage_barrier"):
        D.stage_barrier = timed_barrier
    wrap(C, "dedup_filter")
    import architxt_spark.functions.lm as L
    import architxt_spark.functions.sampling as SA

    wrap(L, "ppl_buckets")
    wrap(SA, "mixture_take")
    wrap(SA, "pack_sequences")

    import __spark_entry__ as entry

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = S.get_spark("curprof")
    spark.sparkContext.setLogLevel("ERROR")
    q = entry.queries()[qname]
    for run in ("cold", "warm", "warm2"):
        _timings.clear()
        t0 = time.perf_counter()
        df = q(spark, sf)
        t_build = time.perf_counter() - t0
        rows = df.collect()
        total = time.perf_counter() - t0
        print(
            f"== {qname} {run}: {total:.2f}s total "
            f"(build+eager {t_build:.2f}s, final collect {total - t_build:.2f}s), "
            f"{len(rows)} rows"
        )
        for name, dt in _timings:
            print(f"   {name}: {dt:.2f}s")
        print(f"   (unattributed: {t_build - sum(t for _, t in _timings):.2f}s)")


if __name__ == "__main__":
    main()
