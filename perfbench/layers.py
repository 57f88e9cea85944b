"""Per-iteration clock and, in the traced run, per-layer spans.

A :class:`Tracer` lives for one iteration.  Untraced, it only records when
the iteration reached its sink (``pre_sink_s``) and hands ``on_stage=None``
to the rewrite engine, so the measured program is the plain composition.
Traced, every ``layer()`` call gets its own Spark job group and records
wall time, process-tree CPU time and its epoch interval; the engine's
``on_stage`` timer hook adds reduce/cluster/probe seconds.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import eventlog
from procstat import tree_cpu_s

#: Every layer a workload may call, named after the engine module it enters.
LAYERS = (
    "sources.warc",
    "functions.curation",
    "sinks.corpus",
    "nlp",
    "operators.engine",
    "plans.schema",
    "sinks.sql",
)
COMMON = (
    "wall_s", "cpu_s", "task_cpu_s", "jobs", "stages", "tasks",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "driver_gap_s", "sched_share",
)
ENGINE_STAGES = ("reduce", "cluster", "probe")
#: Counts a workload's ``counts`` hook measures on its sink output.
COUNTS = ("sinks.corpus.bytes_per_text_byte", "sinks.sql.rows_written")


class Tracer:
    def __init__(self, sc=None, tag: str = "") -> None:
        self.sc = sc
        self.tag = tag
        self.t0 = time.perf_counter()
        self.pre_sink_s: float | None = None
        self.calls: list[dict] = []
        self.engine: dict[str, float] = {s: 0.0 for s in ENGINE_STAGES}
        self.iterations: set[int] = set()
        # the rewrite engine only pays for its timers when handed a hook
        self.on_stage = self._on_stage if sc is not None else None

    def mark_pre_sink(self) -> None:
        self.pre_sink_s = time.perf_counter() - self.t0

    def _on_stage(self, iteration: int, name: str, seconds: float) -> None:
        self.iterations.add(iteration)
        self.engine[name] = self.engine.get(name, 0.0) + seconds

    @contextmanager
    def layer(self, name: str):
        if self.sc is None:
            yield
            return
        group = f"{self.tag}{len(self.calls)}:{name}"
        self.sc.setJobGroup(group, name)
        start, cpu0, p0 = time.time(), tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - p0
            cpu = tree_cpu_s() - cpu0
            self.sc.setLocalProperty(eventlog.GROUP_KEY, None)
            self.calls.append(
                dict(group=group, layer=name, start=start, end=time.time(), wall=wall, cpu=cpu)
            )


def layer_metrics(tracer: Tracer, groups: dict, cores: int) -> dict[str, float]:
    """Sum one traced iteration's calls per layer and join the event-log
    figures of each call's job group.  Layers the workload never called
    read 0."""
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in COMMON}
    for call in tracer.calls:
        p = call["layer"] + "."
        g = groups.get(call["group"], eventlog.GroupStats())
        out[p + "wall_s"] += call["wall"]
        out[p + "cpu_s"] += call["cpu"]
        out[p + "task_cpu_s"] += g.task_cpu_s
        out[p + "jobs"] += g.jobs
        out[p + "stages"] += g.stages
        out[p + "tasks"] += g.tasks
        out[p + "shuffle_write_mb"] += g.shuffle_write_mb
        out[p + "shuffle_read_mb"] += g.shuffle_read_mb
        out[p + "spill_mb"] += g.spill_mb
        out[p + "driver_gap_s"] += call["wall"] - eventlog.busy_s(
            g.job_spans, call["start"], call["end"]
        )
    for layer in LAYERS:
        wall = out[f"{layer}.wall_s"]
        if wall > 0:
            out[f"{layer}.sched_share"] = 1.0 - out[f"{layer}.cpu_s"] / (wall * cores)
    out["operators.engine.iterations"] = float(len(tracer.iterations))
    for s in ENGINE_STAGES:
        out[f"operators.engine.{s}_s"] = tracer.engine[s]
    return out
