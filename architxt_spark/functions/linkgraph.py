"""Link-graph analytics: edge builders + exact integer PageRank.

Beyond-reference component.  Crawl-scale curation ranks hosts to weight
the frontier and to score corpus quality (CommonCrawl publishes exactly
this as its host-level ranking); session-transition graphs rank pages
from behavioral logs.  Both reduce to one primitive: build a weighted
edge list, iterate PageRank over it.

Scale design:

- **Aggregate edges first.**  :func:`pagerank` collapses raw transitions
  to one ``(src, dst, weight)`` row before iterating, so every iteration
  joins |E| edge rows, not |raw events|.
- **Pregel shape per iteration**: one shuffle join (ranks ⋈ edges on
  ``src``), one map-combinable aggregation (sum contributions by
  ``dst``), one left join back to the node set.  The edge+out-weight
  frame and the node set sit behind a single :func:`stage_barrier` and
  are reused by every iteration; ranks re-barrier each round so plan
  depth stays O(1) in ``iters`` (the same discipline as
  ``operators/engine.py``'s rewrite loop and ``sources/graph.py``'s BFS).
- **Exact integer fixed-point arithmetic.**  Ranks live in units of
  ``1/scale`` as BIGINTs; every division is an integral ``div``.  Sums
  of integers are order-independent, so the result is bit-identical
  across engines, partitionings, and retries — no float
  summation-order drift, which is what lets PageRank sit under the full
  dual-engine hash oracle (:func:`pagerank_sql` emits the DuckDB twin).
  Dangling mass is dropped (the classic simplification): totals need
  not be conserved; determinism is the contract.

No reference counterpart (the reference has no graph-analytics
operators; its graph support is the instance loader,
``architxt/database/loader/graph.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from architxt_spark.session import stage_barrier

__all__ = ["session_edges", "html_host_edges", "pagerank", "pagerank_sql"]

#: eager-barrier cadence for the lazily-chained PageRank iterations: the
#: lineage bound (plan depth never exceeds this many join+agg rounds)
#: without paying one checkpoint job + driver round-trip per iteration.
#: 4 keeps the analyzed plan well under the sizes that slow Catalyst
#: (each round adds 2 joins + 1 aggregate), and a 20-iteration
#: production run pays 5 barriers instead of 20.
_PR_BARRIER_INTERVAL = 4


def session_edges(
    events: DataFrame,
    *,
    page_col: str = "page",
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Consecutive-visit transition edges from a behavioral log: for each
    user ordered by ``order_cols``, emit ``(src, dst)`` per adjacent pair
    of pages; self-loops and trailing events drop out.  One window pass —
    no self-join."""
    w = Window.partitionBy(user_col).orderBy(*order_cols)
    return (
        events.select(
            F.col(page_col).alias("src"),
            F.lead(page_col).over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )


_HREF_RE = r'(?i)href\s*=\s*["\']?(https?://[^"\'\s>#]+)'


def html_host_edges(
    df: DataFrame,
    *,
    url_col: str = "target_uri",
    html_col: str = "text",
) -> DataFrame:
    """Host-level link edges from crawled pages: source host from the
    page URL, destination hosts from absolute ``href``s in the payload
    (JVM regex, codegen — no Python in the path), both reduced to
    registrable domains (eTLD+1).  Output: distinct ``(src, dst)`` host
    pairs, self-links dropped — feed straight into :func:`pagerank`.
    Relative links resolve to the same host and are skipped by the
    absolute-URL regex (they cannot change the host graph)."""
    from architxt_spark.functions.domains import registrable_domain

    links = df.select(
        registrable_domain(F.col(url_col)).alias("src"),
        F.explode(
            F.regexp_extract_all(F.col(html_col), F.lit(_HREF_RE), F.lit(1))
        ).alias("href"),
    )
    return (
        links.select("src", registrable_domain(F.col("href")).alias("dst"))
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    *,
    iters: int = 3,
    scale: int = 10**9,
    damping_pct: int = 85,
    tol_units: int | None = None,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Weighted PageRank over an edge list, in exact integer fixed-point.

    Ranks are BIGINT multiples of ``1/scale``.  Per iteration, node ``v``
    receives ``(rank[s] * w) div out_w[s]`` from each in-edge ``s→v`` and
    is reset to ``base + (damping_pct * inflow) div 100`` where
    ``base = ((100 - damping_pct) * (scale div N)) div 100`` — every
    operation integral, so the result is deterministic to the bit (see
    module docstring).  ``weight=None`` counts duplicate edge rows as
    transition weight.  Output: ``(node, rank_units)``.

    ``tol_units`` enables L1-delta early stop: iteration ends once
    ``sum(|rank - prev_rank|) <= tol_units`` (exact integer L1, so the
    stopping decision is itself deterministic); ``iters`` becomes the
    cap.  Costs one map-combinable aggregation per iteration — the
    standard convergence loop for production ranks, where fixed ``iters``
    either wastes rounds or under-converges.  The GATED oracle path keeps
    ``tol_units=None`` (fixed iterations, no driver-dependent round
    count).

    ``redistribute_dangling`` conserves total mass the way published host
    ranks do: each iteration, the rank sitting on dangling nodes (no
    out-edges) is shared uniformly — every node additionally receives
    ``(damping_pct * (dangling_sum div N)) div 100``, still all-integral.
    Off by default (drop-the-mass is the gated simplification).

    The node count ``N`` is the one driver-side scalar (a single count
    job over the deduplicated node set — at web scale, millions of rows
    reduced to one long)."""
    w: Column = F.col(weight) if weight else F.lit(1)
    e = edges.groupBy(src, dst).agg(F.sum(w).cast("long").alias("__w"))
    outw = e.groupBy(src).agg(F.sum("__w").alias("__ow"))
    # one barrier materializes the per-iteration reusables
    e2 = stage_barrier(e.join(outw, src).select(src, dst, "__w", "__ow"))
    nodes = stage_barrier(
        e2.select(F.col(src).alias("node"))
        .union(e2.select(F.col(dst).alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_units", F.lit(None).cast("long"))
    r0 = scale // n
    base = ((100 - damping_pct) * r0) // 100
    dangling = (
        nodes.join(outw.select(F.col(src).alias("node")), "node", "left_anti")
        if redistribute_dangling
        else None
    )
    ranks = nodes.select("node", F.lit(r0).cast("long").alias("rank_units"))
    # Iterations CHAIN LAZILY (r15): each rank frame is consumed once by
    # the next iteration's contribution join (the dangling variant, which
    # reads it twice, barriers every iteration — see below), so the
    # whole fixed-iteration loop is ONE action at the consumer
    # instead of one eager localCheckpoint job + its AQE stage jobs +
    # driver round-trips PER ITERATION (optprof: the line was a stream of
    # 20-40 ms scheduling-bound jobs).  An eager barrier still lands
    # every ``_PR_BARRIER_INTERVAL`` iterations — and always on the LAST
    # one — so plan depth stays O(interval), the same lineage bound as
    # before; values are placement-independent (exact integer ops).
    for it in range(1, iters + 1):
        contrib = (
            e2.join(ranks.withColumnRenamed("node", "__s"), F.col(src) == F.col("__s"))
            .select(
                F.col(dst).alias("node"),
                F.expr("(rank_units * __w) div __ow").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__c"))
        )
        new_rank = F.lit(base) + F.expr(
            f"({damping_pct} * coalesce(__c, 0L)) div 100"
        )
        updated = nodes.join(contrib, "node", "left")
        if dangling is not None:
            # dangling mass as a 1-row broadcast aggregate — stays inside
            # the plan, no extra driver scalar per iteration
            dang = (
                ranks.join(dangling, "node", "left_semi")
                .agg(
                    F.coalesce(F.sum("rank_units"), F.lit(0))
                    .cast("long")
                    .alias("__dang")
                )
            )
            updated = updated.crossJoin(F.broadcast(dang))
            new_rank = new_rank + F.expr(
                f"({damping_pct} * (__dang div {n})) div 100"
            )
        prev = ranks
        ranks = updated.select("node", new_rank.cast("long").alias("rank_units"))
        if (
            it % _PR_BARRIER_INTERVAL == 0
            or it == iters
            or tol_units is not None
            or dangling is not None
        ):
            # the dangling variant keeps its per-iteration barrier: its
            # 1-row mass aggregate is a nested broadcast subquery, and a
            # lazily-chained stack of those evaluated serially inside
            # broadcast-exchange builds measured SLOWER than the
            # barriered form (A/B at sf0.1) — only the linear chain wins
            ranks = stage_barrier(ranks)
        if tol_units is not None:
            delta = (
                ranks.join(
                    prev.select("node", F.col("rank_units").alias("__prev")), "node"
                )
                .agg(F.sum(F.abs(F.col("rank_units") - F.col("__prev"))).alias("d"))
                .first()["d"]
            )
            if delta is not None and delta <= tol_units:
                break
    return ranks


def pagerank_sql(
    edges_sql: str,
    *,
    iters: int = 3,
    scale: int = 10**9,
    damping_pct: int = 85,
    redistribute_dangling: bool = False,
) -> str:
    """DuckDB twin of :func:`pagerank` for the dual-engine oracle gate:
    ``edges_sql`` must select ``(src, dst, w)`` (already aggregated).
    Iterations unroll to one CTE pair each; every SUM casts back to
    BIGINT (DuckDB widens integer SUM to HUGEINT) and every division is
    ``//`` so the arithmetic matches Spark's ``div`` bit-for-bit on the
    non-negative values PageRank produces.  ``redistribute_dangling``
    mirrors the Spark flag: per iteration the rank mass on no-out-edge
    nodes (NOT EXISTS — NULL-safe) is shared uniformly,
    ``(damping * (dangling_sum // N)) // 100`` per node, all-integral."""
    base_pct = 100 - damping_pct
    n_sub = "(SELECT n FROM __n)"
    parts = [
        f"__e AS ({edges_sql})",
        "__nodes AS (SELECT src AS node FROM __e UNION SELECT dst FROM __e)",
        "__ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM __e GROUP BY src)",
        "__n AS (SELECT COUNT(*) AS n FROM __nodes)",
        f"__r0 AS (SELECT node, {scale} // {n_sub} AS r FROM __nodes)",
    ]
    prev = "__r0"
    for i in range(1, iters + 1):
        parts.append(
            f"__c{i} AS (SELECT e.dst AS node, "
            f"CAST(SUM((r.r * e.w) // o.ow) AS BIGINT) AS c "
            f"FROM __e e JOIN __ow o ON e.src = o.src "
            f"JOIN {prev} r ON r.node = e.src GROUP BY e.dst)"
        )
        dang_term = ""
        if redistribute_dangling:
            parts.append(
                f"__d{i} AS (SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS d "
                f"FROM {prev} r WHERE NOT EXISTS "
                f"(SELECT 1 FROM __ow o WHERE o.src = r.node))"
            )
            dang_term = (
                f" + ({damping_pct} * ((SELECT d FROM __d{i}) // {n_sub})) // 100"
            )
        parts.append(
            f"__r{i} AS (SELECT n.node, "
            f"CAST(({base_pct} * ({scale} // {n_sub})) // 100 "
            f"+ ({damping_pct} * COALESCE(c.c, 0)) // 100{dang_term} AS BIGINT) AS r "
            f"FROM __nodes n LEFT JOIN __c{i} c ON n.node = c.node)"
        )
        prev = f"__r{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, r AS rank_units FROM {prev}"
    )
