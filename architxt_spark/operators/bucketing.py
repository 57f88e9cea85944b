"""Bucketed storage for co-located, shuffle-free joins.

At 100 TB the dominant cost of the engine's repeated self-joins on the
node table (``parent_id``/``tree_id``) and of fact⋈fact joins is the
exchange.  Writing both sides bucketed by the join key with the same
bucket count lets Spark's bucketed-scan rule drop the Exchange (and with
``sortBy``, the Sort) from every subsequent join on that key — the
shuffle is paid ONCE at write time, then amortized over every read.

The node table's natural layout is ``bucketBy(tree_id)``: every per-tree
operator (rewrites, pivots, forest stats windows) becomes exchange-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    *,
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by the join key.

    Uses the session catalog (``saveAsTable`` — bucket metadata cannot
    ride on a bare parquet path); read it back with ``spark.table(table)``,
    not ``read.parquet`` of the files, or the bucketing is lost.  ``n_buckets`` should be sized so one
    bucket of the LARGEST co-located table fits an executor's memory at
    the target scale; every table that joins on ``bucket_cols`` must use
    the same count for the exchange-free plan.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def is_exchange_free_join(joined: DataFrame) -> bool:
    """True when the executed join plan contains no shuffle Exchange —
    the assertion that bucketing actually co-located the sides."""
    plan = joined._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" not in plan
