"""Self-tests of the benchmark.  From the repository root:

    python3 -m pytest perfbench/tests -q

The smoke runs start one benchmark process per case (about a minute
each); the composition test builds one Spark session in this process.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys
from contextlib import redirect_stdout

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import eventlog  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


# --------------------------------------------------------------------------
# event-log parser
# --------------------------------------------------------------------------


def test_eventlog_parser_on_fixed_log():
    groups = eventlog.read(os.path.join(HERE, "data", "eventlog-small.jsonl"))
    # the untagged job is ignored; a skipped (re-listed) stage is not recounted
    assert set(groups) == {"it1:0:nlp", "it1:1:operators.engine"}
    nlp = groups["it1:0:nlp"]
    assert (nlp.jobs, nlp.stages, nlp.tasks) == (2, 2, 3)
    assert nlp.task_cpu_s == pytest.approx(0.6)
    assert nlp.shuffle_write_mb == pytest.approx(2.0)
    assert nlp.shuffle_read_mb == pytest.approx(2.0)
    assert nlp.spill_mb == pytest.approx(1.0)
    assert eventlog.busy_s(nlp.job_spans, 1000.0, 1001.5) == pytest.approx(0.7)
    eng = groups["it1:1:operators.engine"]
    assert (eng.jobs, eng.stages, eng.tasks, eng.task_cpu_s) == (1, 1, 1, pytest.approx(0.5))


def test_busy_s_unions_overlaps_and_clips():
    spans = [(0.0, 2.0), (1.0, 3.0), (1.5, 2.5), (5.0, 9.0)]
    assert eventlog.busy_s(spans, 0.5, 6.0) == pytest.approx(2.5 + 1.0)
    assert eventlog.busy_s([], 0.0, 1.0) == 0.0


def test_layer_metrics_join_calls_and_groups():
    groups = eventlog.read(os.path.join(HERE, "data", "eventlog-small.jsonl"))
    tracer = layers.Tracer()
    tracer.calls = [
        dict(group="it1:0:nlp", layer="nlp", start=1000.0, end=1001.5, wall=1.5, cpu=3.0),
        dict(group="it1:1:operators.engine", layer="operators.engine",
             start=1002.0, end=1003.0, wall=1.0, cpu=4.0),
    ]
    tracer._on_stage(0, "reduce", 0.25)
    tracer._on_stage(1, "reduce", 0.25)
    m = layers.layer_metrics(tracer, groups, cores=4)
    assert m["nlp.driver_gap_s"] == pytest.approx(0.8)
    assert m["nlp.sched_share"] == pytest.approx(0.5)
    assert m["operators.engine.sched_share"] == pytest.approx(0.0)
    assert m["operators.engine.iterations"] == 2
    assert m["operators.engine.reduce_s"] == pytest.approx(0.5)
    assert m["sources.warc.wall_s"] == 0.0  # never called


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


@pytest.mark.parametrize("write", [
    lambda root, seed: gen.write_crawl(root, 200, seed, 4),
    lambda root, seed: gen.write_brat(root, 200, seed, 4),
])
def test_generators_are_seeded(tmp_path, write):
    a, b, c = (str(tmp_path / n) for n in "abc")
    for root, seed in ((a, 1), (b, 1), (c, 2)):
        os.makedirs(root)
        write(root, seed)
    assert _tree_bytes(a) == _tree_bytes(b)
    assert _tree_bytes(a) != _tree_bytes(c)


# --------------------------------------------------------------------------
# benchmark composition == user-facing path
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from architxt_spark.session import get_spark

    session = get_spark("perfbench-tests")
    yield session
    session.stop()


def test_crawl_composition_matches_curate_cli(spark, tmp_path):
    """The layer-by-layer crawl run and ``architxt-spark curate --warc``
    agree on every census stage after the input; the CLI reads the
    404/image noise responses as input rows that the benchmark's status
    gate drops up front (two per shard)."""
    from architxt_spark import cli

    inputs = str(tmp_path / "in")
    os.makedirs(inputs)
    facts = gen.write_crawl(inputs, 400, 5, 4)
    result = workloads.crawl_curate(spark, inputs, str(tmp_path / "bench"), layers.Tracer())
    workloads.check_crawl(spark, result, facts)

    buf = io.StringIO()
    with redirect_stdout(buf):
        cli.main([
            "curate", os.path.join(inputs, "warc"), "--warc",
            "--out", str(tmp_path / "cli"),
            "--decontaminate-against", os.path.join(inputs, "eval.parquet"),
            "--splits", '{"train": 0.9, "valid": 0.1}',
            "--partition-by", "split",
        ])
    cli_census = [(s, int(n)) for s, n in (ln.split("\t") for ln in buf.getvalue().split("\n") if ln)]
    bench = dict(result["census"])
    assert dict(cli_census) == {**bench, "input": bench["input"] + 2 * 4}


def test_text_composition_matches_pipeline_simplify(spark, tmp_path):
    """The benchmark's text run induces the schema
    ``pipeline.simplify(pipeline.load_corpus(docs))`` induces."""
    from architxt_spark import pipeline

    inputs = str(tmp_path / "in")
    os.makedirs(inputs)
    facts = gen.write_brat(inputs, 300, 5, 4)
    result = workloads.structure_text(spark, inputs, str(tmp_path / "out.db"), layers.Tracer())
    workloads.check_text(spark, result, facts)

    docs = spark.read.parquet(os.path.join(inputs, "brat"))
    _, schema = pipeline.simplify(pipeline.load_corpus(docs))
    assert schema.groups == result["schema"].groups
    assert schema.relations == result["schema"].relations


# --------------------------------------------------------------------------
# whole runs
# --------------------------------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run(workload, trace):
    p = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--size", "300")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] == (3 if trace else 1)
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    # the driver JVM carries the run's scratch path on its command line
    assert not _processes_naming(".perfbench_work")


def _processes_naming(text: str) -> list[int]:
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if text.encode() in f.read():
                    out.append(int(pid))
        except OSError:  # the process ended while we looked
            continue
    return out


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
               "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert "correct" not in p.stdout
