"""architxt-spark benchmark: one workload, one process, one client.

    python3 perfbench/run.py --workload crawl_curate --seed 7 --seconds 40 --trace 0

Run from the repository root.  The run generates the workload's inputs
from ``--seed`` (inside ``.perfbench_work/`` under the root), starts a
session with the engine's own profile (``session.get_spark`` on
``local[<cores>]``) and runs the workload once in that fresh process, as
a CLI call does; with ``--trace 1`` a traced and a plain warm iteration
follow.  Every iteration's output is checked; then the run stops the
engine and waits until every process it started has ended.  The work is
fixed, so ``--seconds`` (the nominal measured time) changes nothing.  The
last line of standard output is one JSON object; with ``--trace 0`` its
metrics are the end-to-end figures of the cold iteration, with
``--trace 1`` the per-layer figures of the traced one (Spark event log
on, one job group per layer call).  The exit code is 1 when any output check failed and 2 when the
engine is not importable.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import eventlog
import layers
import workloads
from procstat import PeakRss, adopt_orphans, high_water_rss_mb, stop_descendants, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPEATS = 3
#: Seconds the driver JVM gets to run its shutdown hooks once its stdin
#: closes, and each signal after that, before the next is sent.
STOP_GRACE_S = 20.0
#: Driver heap, committed and touched at start so its resident size does
#: not depend on when the collector chose to grow it.
DRIVER_MEM = "1g"

UNITS = {"setup_s": "s", "cold_wall_s": "s", "cold_cpu_s": "s", "driver_rss_mb": "MB"}


def _layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("sched_share", "bytes_per_text_byte")):
        return "ratio"
    return "count"


def _environment(work: str, cores: int, trace: bool) -> None:
    """Point every scratch path of Spark, the JVM and Python into
    ``work`` and select the session profile, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    ]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(c) for c in conf) + " pyspark-shell",
    )
    tempfile.tempdir = tmp


def _stop_engine(spark) -> None:
    """Stop the session, then end the driver JVM and every process it
    started, and wait for each: left alone, the JVM would only exit after
    this process did, when its stdin pipe closes."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            try:
                gateway.shutdown()
            finally:
                gateway.proc.stdin.close()
        stop_descendants(STOP_GRACE_S)


def run(args, work: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    _environment(work, cores, args.trace)
    wl = workloads.WORKLOADS[args.workload]
    size = args.size or wl.size

    from architxt_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t
    sc = spark.sparkContext
    jvm = sc._gateway.proc.pid
    # the Python daemon and workers are the JVM's children
    workers_rss = PeakRss(jvm)
    plan = ["cold", "traced", "plain"] if args.trace else ["cold"]
    samples: dict[str, dict] = {}
    failed = 0
    try:
        gen_s = []
        inputs = os.path.join(work, "inputs", f"{args.workload}-s{args.seed}-n{size}")
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(inputs, ignore_errors=True)
            os.makedirs(inputs)
            t = time.perf_counter()
            facts = wl.generate(inputs, size, args.seed, max(8, 2 * cores))
            gen_s.append(time.perf_counter() - t)
        workers_rss.start()
        for i, kind in enumerate(plan):
            tracer = layers.Tracer(sc if kind == "traced" else None, tag=f"it{i}:")
            out = os.path.join(work, "out", f"iter-{i}")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                result = wl.body(spark, inputs, out, tracer)
                wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
                wl.check(spark, result, facts)
                samples[kind] = dict(
                    wall=wall, cpu=cpu, check=time.perf_counter() - t0 - wall,
                    pre_sink=tracer.pre_sink_s, tracer=tracer,
                    counts=wl.counts(spark, result) if kind == "traced" else {},
                )
            except Exception:  # noqa: BLE001 — a failed iteration is counted and ends the run
                failed += 1
                traceback.print_exc()
                break
            finally:
                workloads.remove_output(out)
        driver_rss_mb = high_water_rss_mb(jvm) + high_water_rss_mb(os.getpid())
    finally:
        workers_rss.stop()
        _stop_engine(spark)

    attempted = len(samples) + failed
    print(
        f"# {args.workload} seed={args.seed} size={size} ({facts['records']} records) "
        f"cores={cores}: {attempted} iterations, {failed} failed",
        file=sys.stderr,
    )
    print(
        f"# phases: session {session_s:.2f} s, generation {[round(g, 2) for g in gen_s]} s, "
        f"iterations (wall, check) "
        f"{ {k: (round(v['wall'], 2), round(v['check'], 2)) for k, v in samples.items()} } s",
        file=sys.stderr,
    )
    if failed:
        return dict(correct=False, attempted=attempted, failed=failed, metrics={})

    if not args.trace:
        cold = samples["cold"]
        metrics = dict(
            setup_s=session_s + statistics.median(gen_s),
            cold_wall_s=cold["wall"],
            cold_cpu_s=cold["cpu"],
            driver_rss_mb=driver_rss_mb,
        )
        units = UNITS
    else:
        (log,) = os.listdir(os.path.join(work, "events"))
        traced, plain = samples["traced"], samples["plain"]
        metrics = layers.layer_metrics(
            traced["tracer"], eventlog.read(os.path.join(work, "events", log)), cores
        )
        for name in layers.COUNTS:
            metrics[name] = traced["counts"].get(name, 0.0)
        metrics.update(
            wall_s=plain["wall"],
            cpu_s=plain["cpu"],
            pre_sink_s=plain["pre_sink"],
            trace_overhead_s=traced["wall"] - plain["wall"],
            workers_peak_rss_mb=workers_rss.peak_mb,
        )
        units = {k: _layer_unit(k) for k in metrics}
    for name, value in metrics.items():
        print(f"# {name} = {value:.6g} {units[name]}", file=sys.stderr)
    return dict(
        correct=True,
        attempted=attempted,
        failed=failed,
        metrics={k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="nominal measured time; the work per run is fixed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=0, help="override the input size (self-tests)")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "architxt_spark")):
        print(f"architxt_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    adopt_orphans()
    # a terminated run still stops the engine and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        stop_descendants(STOP_GRACE_S)  # whatever a failed start left
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still works there
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
