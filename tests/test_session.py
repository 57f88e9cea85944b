"""Session factory / cluster-posture artifact tests."""

from pathlib import Path

from architxt_spark.session import (
    DURABLE_BARRIERS_CONF,
    ENGINE_CONF,
    EXCLUDED_OPTIMIZER_RULES,
    cluster_conf,
    stage_barrier,
)

ROOT = Path(__file__).resolve().parent.parent


def test_cluster_conf_keys_and_scaling():
    conf = cluster_conf(executors=1000, executor_cores=4, target_partition_mb=256)
    # the knobs the 100-TB posture documents, present as one artifact
    for key in (
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        DURABLE_BARRIERS_CONF,
    ):
        assert key in conf, key
    assert conf["spark.sql.shuffle.partitions"] == str(2 * 1000 * 4)
    assert conf["spark.sql.files.maxPartitionBytes"] == str(256 << 20)
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf[DURABLE_BARRIERS_CONF] == "true"
    assert conf["spark.sql.optimizer.excludedRules"] == EXCLUDED_OPTIMIZER_RULES
    # smaller cluster scales the shuffle ceiling down
    assert cluster_conf(executors=10, executor_cores=8)[
        "spark.sql.shuffle.partitions"
    ] == str(160)


def test_cluster_conf_carries_engine_conf():
    """The cluster posture runs the same semantic confs as every local
    session, the UTC pin included."""
    conf = cluster_conf()
    assert conf["spark.sql.session.timeZone"] == "UTC"
    for key, value in ENGINE_CONF.items():
        assert conf[key] == value, key


def test_suite_runs_engine_profile(spark):
    """The test session is built by ``get_spark``: the engine's confs on
    four cores."""
    for key, value in ENGINE_CONF.items():
        assert spark.conf.get(key) == value, key
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.sparkContext.master == "local[4]"


def test_only_session_module_builds_sessions():
    """``architxt_spark/session.py`` is the only module that builds a
    Spark session: no other ``.py`` file under ``architxt_spark/``,
    ``tools/`` or ``tests/`` may build one directly.  ``bench.py``,
    whose conf stays byte-identical across rounds, and ``perfbench/``,
    the benchmark harness, are outside the scan."""
    needle = "SparkSession" + ".builder"
    session_py = ROOT / "architxt_spark" / "session.py"
    offenders = [
        str(path.relative_to(ROOT))
        for top in ("architxt_spark", "tools", "tests")
        for path in sorted((ROOT / top).rglob("*.py"))
        if path != session_py and needle in path.read_text(encoding="utf-8")
    ]
    assert offenders == []


def test_only_session_module_caches_frames():
    """Every cached frame has one owner in ``session.py``: frames that
    leave their function land through ``stage_barrier``, scratch frames
    are scoped by ``held``.  No other ``.py`` file under
    ``architxt_spark/``, nor ``__spark_entry__.py``, calls ``persist``,
    ``cache`` or ``unpersist``."""
    needles = (".persist(", ".cache()", ".unpersist(")
    session_py = ROOT / "architxt_spark" / "session.py"
    paths = [*sorted((ROOT / "architxt_spark").rglob("*.py")), ROOT / "__spark_entry__.py"]
    offenders = [
        f"{path.relative_to(ROOT)}:{n}"
        for path in paths
        if path != session_py
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if any(needle in line for needle in needles)
    ]
    assert offenders == []


def test_stage_barrier_local_default(spark):
    df = spark.range(10)
    out = stage_barrier(df.withColumnRenamed("id", "n"))
    assert sorted(r.n for r in out.collect()) == list(range(10))


def test_tree_buckets_whole_trees_single_exchange(spark):
    """tree_buckets: every tree's rows arrive in ONE pandas group (the
    per-tree fns reconstruct whole trees), and the groupBy reuses the
    pinned-width repartition — exactly one Exchange in the executed plan
    (the AQE one-task-coalescing and per-tree-call overhead traps both
    closed)."""
    import pandas as pd

    from architxt_spark.session import tree_buckets

    rows = [(f"t{i}", f"t{i}:{j}") for i in range(40) for j in range(5)]
    df = spark.createDataFrame(rows, "tree_id string, node_id string")

    def check(pdf: pd.DataFrame) -> pd.DataFrame:
        counts = pdf.groupby("tree_id").size()
        return pd.DataFrame(
            {"tree_id": counts.index, "n": counts.values.astype("int64")}
        )

    out = tree_buckets(df).applyInPandas(check, "tree_id string, n long")
    got = {r["tree_id"]: r["n"] for r in out.collect()}
    assert got == {f"t{i}": 5 for i in range(40)}  # never split across groups

    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both sections
    assert final.count("Exchange") == 1, plan
