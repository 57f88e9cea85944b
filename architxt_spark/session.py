"""The engine's session profile.

:func:`get_spark` is the one place a ``SparkSession`` is built: the CLI,
the UI, the test suite and the tools all call it, so every run shares
one profile.  The semantic confs live once, in :data:`ENGINE_CONF`;
:func:`get_spark` adds the local settings (``local[cores]``, driver
memory, no UI) and :func:`cluster_conf` adds the cluster posture.  On a
real cluster the same confs apply unchanged (AQE re-plans shuffles at
runtime, handles skew joins, and coalesces small partitions — the knobs
that matter at 100 TB).

Every cached frame has one owner, and both owners live here:

- a frame that LEAVES the function that built it lands through
  :func:`stage_barrier` — an eager checkpoint outside the cache
  manager, freed when it becomes unreachable, so no caller has a
  release duty;
- a SCRATCH frame, used and dropped inside one function, is scoped by
  ``with held(df)`` — persisted on entry, unpersisted on exit even when
  the body raises.

No other module of the engine calls ``persist``, ``cache`` or
``unpersist``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Engine optimizer profile: ``InferFiltersFromGenerate`` copies the ENTIRE
#: generator-input expression into an inferred ``size(...) > 0 AND
#: isnotnull(...)`` filter.  For the wide struct-array node emitters the
#: array templates are non-null by construction, so the inferred filter
#: never prunes a row but re-evaluates the whole emission expression once
#: extra per input row (~20-25% on the relational loader at sf0.1).  This
#: is declared HERE, at session construction, as the engine's default —
#: operator code never mutates conf on a session it did not create.
EXCLUDED_OPTIMIZER_RULES = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

#: The engine's semantic confs, shared by every local session
#: (:func:`get_spark`) and by the cluster posture (:func:`cluster_conf`).
ENGINE_CONF: dict[str, str] = {
    # Pin UTC so timestamp semantics match the UTC-naive parquet/duckdb view.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle re-planning, small-partition coalescing, and
    # skew-join splitting — essential at scale, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / mapInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.optimizer.excludedRules": EXCLUDED_OPTIMIZER_RULES,
}


def get_spark(app_name: str = "architxt-spark", cores: int | None = None) -> SparkSession:
    """The engine session: :data:`ENGINE_CONF` on ``local[cores]`` with
    ``cores`` shuffle partitions.  ``cores`` defaults to
    ``$SPARK_GRAFT_CPUS``, then to every CPU; the driver heap is
    ``$SPARK_GRAFT_DRIVER_MEM`` (default 8g).  A session already running
    in this process is returned unchanged: its master and memory are
    fixed, and re-applying the session options would overwrite its
    shuffle width."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def sf_dir(default: str = "/root/testdata/sf0.1") -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def tree_buckets(nodes):
    """Grouping for per-tree pandas passes: hash-bucket ``tree_id`` at
    4 × session parallelism instead of one pandas call per tree.

    ``groupBy("tree_id").applyInPandas`` invokes the Python fn once per
    GROUP — with document-sized trees the per-group Arrow/pandas
    overhead (~4-5 ms) dominates the actual tree work (measured: the
    rewrite engine's reduce pass over 2,500 trees, 12.6 s per-tree
    grouped → ~1 s bucketed).  Bucketing on ``pmod(xxhash64(tree_id),
    k)`` keeps every tree's rows in ONE group (the per-tree fns already
    iterate ``rows_to_trees(...)``), so semantics are unchanged; the
    pandas fn simply receives many trees per call.

    Scale posture: per-bucket memory is forest/(k) ≈ the partition size
    the engine shuffles anyway (k = 4 × cores); trees themselves
    stay the atomic unit, so skew is bounded by the largest tree times
    the hash balance, not by any key's popularity.  The width is pinned
    with an explicit repartition on the SAME bucket expression (which
    the groupBy then reuses — no second exchange): AQE's size-based
    coalescing sees a few MB of node rows and would fold the exchange
    into ONE task, serializing every per-tree Python pass (the
    ``_spread_by_tree`` lesson, measured 16-21 s single-task at
    sf0.1)."""
    from pyspark.sql import functions as F

    p = nodes.sparkSession.sparkContext.defaultParallelism
    k = 4 * p
    bucket = F.pmod(F.xxhash64("tree_id"), F.lit(k))
    return nodes.repartition(p, bucket).groupBy(bucket.alias("__tree_bucket"))


#: Runtime conf flag switching the engine's stage barriers from
#: executor-local checkpoints to reliable (checkpoint-dir) checkpoints.
DURABLE_BARRIERS_CONF = "spark.architxt.durableBarriers"


def enable_durable_barriers(spark: SparkSession, checkpoint_dir: str) -> None:
    """Switch every :func:`stage_barrier` in this session to RELIABLE
    checkpoints written under ``checkpoint_dir`` — the cluster posture.

    ``localCheckpoint`` stores non-replicated executor blocks: fast, but
    after lineage truncation an executor loss fails the job.  Fine on
    local[N] (one process) and for short interactive runs; NOT fine for a
    100-TB run on 1000 preemptible executors.  Point ``checkpoint_dir``
    at durable shared storage (HDFS/S3/GCS) there."""
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    spark.conf.set(DURABLE_BARRIERS_CONF, "true")


def disable_durable_barriers(spark: SparkSession) -> None:
    spark.conf.set(DURABLE_BARRIERS_CONF, "false")


def stage_barrier(df, *, eager: bool = True):
    """Lineage-truncating stage barrier used between pipeline stages
    (quality gate → dedup, BFS levels, rewrite iterations).

    The barrier itself is a deliberate plan shape: it stops Catalyst from
    pushing expensive predicates below an exchange / re-running a
    shingle-heavy stage per consumer, and it truncates iterative lineage
    so plans don't grow unboundedly.  Default = ``localCheckpoint``
    (executor-local, fast).  With durable barriers enabled
    (:func:`enable_durable_barriers`) = reliable ``checkpoint`` to the
    session's checkpoint dir, which survives executor loss."""
    spark = df.sparkSession
    try:
        durable = spark.conf.get(DURABLE_BARRIERS_CONF, "false") == "true"
    except Exception:  # noqa: BLE001 — conf layer unavailable (mock frames)
        durable = False
    if durable:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


@contextmanager
def held(df):
    """Scope a scratch frame: ``df.persist()`` on entry, ``unpersist`` on
    exit — also when the body raises.  The persist is lazy; a body that
    needs the frame materialized before several consumers read it calls
    ``count()`` itself.  A frame that outlives the block must come out
    through :func:`stage_barrier` inside it."""
    cached = df.persist()
    try:
        yield cached
    finally:
        cached.unpersist()


def cluster_conf(
    *,
    executors: int = 1000,
    executor_cores: int = 4,
    target_partition_mb: int = 256,
) -> dict[str, str]:
    """The documented 100-TB cluster posture as one artifact — the knobs
    this engine assumes when the same code runs on a real cluster.  Feed
    into ``SparkSession.builder.config(map=cluster_conf())``.

    Rationale per key:

    - shuffle partitions ≈ 2× total cores so AQE coalesces DOWN from a
      ceiling rather than splitting up (it can only merge);
    - ``maxPartitionBytes`` sizes scan splits so a task's working set
      fits executor memory with room for shuffle spill;
    - :data:`ENGINE_CONF`, the same semantic confs every local session
      runs: UTC, Arrow, the optimizer profile, and AQE with skew-join
      splitting — the runtime guard for the skew this engine cannot know
      statically;
    - broadcast threshold raised to 256 MB: at 1000 executors a
      shuffle-hash join of a dimension table costs three orders of
      magnitude more network than one broadcast;
    - reliable barriers on (see :func:`enable_durable_barriers`) —
      executor loss is an EXPECTED event at this scale."""
    total_cores = executors * executor_cores
    return {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb << 20),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(64 << 20),
        "spark.sql.autoBroadcastJoinThreshold": str(256 << 20),
        DURABLE_BARRIERS_CONF: "true",
    }


def read_parquet_if_exists(spark: SparkSession, path: str):
    """Read a parquet directory, or return ``None`` when the PATH does not
    exist yet (the bootstrap case for append-only sidecar state: band /
    fingerprint / bloom indexes on their first batch).  Only the
    path-missing condition maps to ``None`` — a transient IO error, a
    permission failure, or a corrupt footer PROPAGATES, so a delta merge
    can never mistake "index unreadable right now" for "no index yet"
    and silently re-ingest duplicates."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() == "PATH_NOT_FOUND":
            return None
        raise

