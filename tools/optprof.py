"""Per-job wall-clock profile of registry queries (r14 optimization round).

Starts the engine session (``session.get_spark``) with the Spark event
log enabled, runs each named query with the bench action (``.count()``
on the final frame) after a warm-up draw, then parses the event log and
prints one line per Spark job: start offset, duration, #stages, #tasks,
and the job group/description if set.

This attributes wall-clock to the *sequence of jobs* a query runs — the
local-mode equivalent of reading the UI's job timeline — which is the
right lens for queries dominated by many small sequential jobs (barriers,
isEmpty probes, collects) rather than by one big shuffle.

Usage::

    python tools/optprof.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def profile(spark, entry_mod, name: str, sf: str, log_dir: str, repeats: int = 2):
    qs = entry_mod.queries()
    fn = qs[name]
    # warm draw (JIT + codegen + any per-session fixture memoization)
    fn(spark, "/root/testdata/sf0.001").count()

    best = None
    for _ in range(repeats):
        t0 = time.perf_counter()
        df = fn(spark, sf)
        n = df.count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"\n=== {name}: {best:.3f}s min of {repeats} ({n} rows) ===")
    return best


def parse_events(log_dir: str):
    """Yield (t_submit_ms, dur_ms, job_id, desc, n_stages, n_tasks) per job."""
    files = sorted(
        (
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(log_dir)
            for f in fs
            if not f.startswith("appstatus_")
        ),
        key=os.path.getmtime,
    )
    jobs = {}
    stage_tasks = {}
    order = []
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                k = ev.get("Event")
                if k == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "t0": ev["Submission Time"],
                        "desc": props.get("spark.job.description")
                        or (ev.get("Stage Infos") or [{}])[-1].get("Stage Name", ""),
                        "stages": len(ev.get("Stage IDs", [])),
                        "sids": ev.get("Stage IDs", []),
                    }
                    order.append(jid)
                elif k == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in jobs:
                        jobs[jid]["t1"] = ev["Completion Time"]
                elif k == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    stage_tasks[si["Stage ID"]] = si.get("Number of Tasks", 0)
    out = []
    for jid in order:
        j = jobs[jid]
        if "t1" not in j:
            continue
        ntasks = sum(stage_tasks.get(s, 0) for s in j["sids"])
        out.append((j["t0"], j["t1"] - j["t0"], jid, j["desc"], j["stages"], ntasks))
    return out


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:]
    log_dir = tempfile.mkdtemp(prefix="optprof_evlog_")
    # the event log is a launch option, passed before the JVM starts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true"
        f" --conf spark.eventLog.dir={log_dir}"
        " --conf spark.eventLog.compress=false"
        " --conf spark.eventLog.rolling.enabled=false pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

    from architxt_spark.session import get_spark

    spark = get_spark("optprof")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from architxt_spark.jvm import register_jvm_nfc

        register_jvm_nfc(spark)
    except Exception:
        pass

    import __spark_entry__ as entry_mod

    marks = []
    for name in names:
        t_wall = int(time.time() * 1000)
        profile(spark, entry_mod, name, sf, log_dir)
        marks.append((t_wall, name))
    spark.stop()

    jobs = parse_events(log_dir)
    if not jobs:
        print("no jobs parsed")
        return
    # assign jobs to query windows by submission time
    for (t_wall, name) in marks:
        print(f"\n--- jobs for window starting {name} ---")
        sel = [j for j in jobs if j[0] >= t_wall]
        nxt = [m for m in marks if m[0] > t_wall]
        if nxt:
            sel = [j for j in sel if j[0] < nxt[0][0]]
        tot = sum(j[1] for j in sel)
        print(f"{len(sel)} jobs, {tot/1000:.3f}s total job time")
        for t0, dur, jid, desc, nst, ntk in sel:
            if dur >= 20:
                print(f"  +{(t0 - t_wall)/1000:7.3f}s  {dur/1000:7.3f}s  job {jid:4d} "
                      f"st={nst:2d} tk={ntk:4d}  {desc[:110]}")


if __name__ == "__main__":
    main()
