"""fastText-style hashed linear quality classifier — the "model-based
quality filter" stage of CCNet/LLaMA-class pretraining pipelines (a small
linear model trained to separate a vetted high-quality slice from the raw
crawl, then used to score every crawl document).

The model is a bucket-hashed linear classifier trained with
DETERMINISTIC full-batch perceptron iterations:

    margin_i  = Σ_b w[b] · x_i[b]          (x = hashed-unigram counts)
    miss_i    = y_i · margin_i ≤ 0
    w'[b]     = w[b] + Σ_{miss} y_i · x_i[b]

Everything is INTEGER arithmetic — no learning-rate float, no sigmoid —
so training and scoring are bit-exact across engines and the DuckDB twin
replays the iterations as unrolled CTEs (the ``train_codebook`` /
``train_bpe_merges`` precedent).  A perceptron is the right trade here:
the standard fastText quality filter is itself a linear model over
hashed n-grams; what matters for the pipeline is a reproducible margin
ordering, not probability calibration (threshold the margin as you would
the fastText score).

Scale shape: features are one narrow explode per document (no shuffle);
each training iteration is TWO map-combinable aggregations (per-doc
margin, then per-bucket gradient over the misclassified set) — 2·K jobs
total for K iterations, independent of corpus width; the weight table is
bounded by ``n_buckets`` (collected to the driver between iterations —
tiny — which also truncates the iteration lineage) and broadcast for
scoring, so scoring the full crawl is one shuffle keyed on the document
id.  The bucket hash is the md5 digit-position construction shared with
dedup/sampling/DSIR.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from architxt_spark.functions import text as T
from architxt_spark.functions.dedup import _spread
from architxt_spark.functions.dsir import _feature_bucket
from architxt_spark.session import held

#: default feature-hash bucket count (fastText uses 2M for word n-grams;
#: 1024 keeps the broadcast/collect table tiny at test scale)
N_BUCKETS = 1024

#: default full-batch perceptron passes
ITERATIONS = 3


def _feature_rows(df: DataFrame, id_col: str, text_col: str, bigrams: bool) -> DataFrame:
    """(id, __t): one row per feature occurrence — word unigrams, plus
    space-joined word bigrams when ``bigrams`` (the fastText word-n-gram
    feature space).  The token array sits behind a projection barrier
    (multi-referenced alias) so the split runs once per row."""
    staged = _spread(df).select(
        F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("__toks")
    )
    feats = (
        F.concat(F.col("__toks"), T.shingles_of_tokens(F.col("__toks"), 2))
        if bigrams
        else F.col("__toks")
    )
    return staged.select("id", F.explode(feats).alias("__t"))


def _labelled_features(
    pos: DataFrame,
    neg: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    bigrams: bool = False,
    label_col: str | None = None,
) -> DataFrame:
    """(id, y, b, x): per-document hashed feature bucket counts with the
    ±1 label.  One narrow explode per corpus side — or, when
    ``label_col`` names a ±1 column on ``pos`` (``neg`` unused), ONE
    explode over the single labelled frame: callers whose pos/neg sides
    are disjoint slices of the same table (the registry fit builds) save
    a full duplicate scan of the file set (r15).  Rows are identical —
    the label rides the explode instead of being stamped per side."""
    if label_col is not None:
        staged = _spread(pos).select(
            F.col(id_col).alias("id"),
            F.col(label_col).cast("int").alias("y"),
            T.tokens(F.col(text_col)).alias("__toks"),
        )
        feats = (
            F.concat(F.col("__toks"), T.shingles_of_tokens(F.col("__toks"), 2))
            if bigrams
            else F.col("__toks")
        )
        rows = staged.select("id", "y", F.explode(feats).alias("__t"))
        return (
            rows.select("id", "y", _feature_bucket(F.col("__t"), n_buckets).alias("b"))
            .groupBy("id", "b")
            .agg(F.count("*").cast("long").alias("x"), F.first("y").alias("y"))
            .select("id", "y", "b", "x")
        )

    def side(df: DataFrame, y: int) -> DataFrame:
        toks = _feature_rows(df, id_col, text_col, bigrams)
        return (
            toks.select("id", _feature_bucket(F.col("__t"), n_buckets).alias("b"))
            .groupBy("id", "b")
            .agg(F.count("*").cast("long").alias("x"))
            .withColumn("y", F.lit(y))
        )

    return side(pos, 1).unionByName(side(neg, -1))


def train_quality_classifier(
    pos: DataFrame,
    neg: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    iterations: int = ITERATIONS,
    bigrams: bool = False,
    label_col: str | None = None,
) -> DataFrame:
    """Train the hashed perceptron; returns the weight table
    ``(b, w)`` — one BIGINT weight per feature bucket seen in training
    (zero-weight buckets included, so the table is the model artifact).
    ``bigrams`` adds hashed word-bigram features (the fastText feature
    space) on both the train and — pass the same flag to
    :func:`classifier_score` — the score side.  ``label_col``: train
    from ONE frame carrying a ±1 label column instead of pos/neg frames
    — one scan when both slices come from the same table (r15)."""
    if (neg is None) == (label_col is None):
        raise ValueError("pass either neg or label_col, not both")
    spark = pos.sparkSession
    with ExitStack() as scope:
        feats = scope.enter_context(held(_labelled_features(
            pos, neg, id_col, text_col, n_buckets, bigrams, label_col=label_col
        )))
        # The iterations chain LAZILY as broadcast-joined weight frames —
        # the DuckDB twin's unrolled-CTE shape — so the whole training
        # loop is ONE action (the final bounded collect), not a blocking
        # driver round-trip per iteration.  Each w_k is held: it is
        # referenced twice per following iteration (broadcast into the
        # margin join AND as the update's left side), and without the
        # (n_buckets-bounded) cache those subplans recompute
        # combinatorially.  Same integer ops in the same order, so
        # margins stay bit-identical to the per-iteration collect this
        # replaces (and to the SQL twin).  The scope releases every held
        # frame even when planning or the final collect raises.
        w = scope.enter_context(held(
            feats.select("b").distinct().select("b", F.lit(0).cast("long").alias("w"))
        ))
        for _ in range(iterations):
            margins = (
                feats.join(F.broadcast(w), "b")
                .groupBy("id")
                .agg(
                    F.first("y").alias("y"),
                    F.sum(F.col("w") * F.col("x")).alias("margin"),
                )
            )
            miss = margins.filter(F.col("y") * F.col("margin") <= 0).select("id", "y")
            grad = (
                feats.drop("y")
                .join(miss, "id")
                .groupBy("b")
                .agg(F.sum(F.col("y") * F.col("x")).alias("g"))
            )
            w = scope.enter_context(held(
                w.join(grad, "b", "left")
                .select("b", (F.col("w") + F.coalesce(F.col("g"), F.lit(0))).alias("w"))
            ))
        rows = w.collect()  # bounded by n_buckets; runs all iterations
    return spark.createDataFrame(sorted((r["b"], r["w"]) for r in rows), "b long, w long")


def classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    bigrams: bool = False,
) -> DataFrame:
    """Score documents with a trained weight table: ``(id_col, n_feats,
    margin, pred)`` — integer margin (exact), pred = sign (0-margin and
    feature-less documents score as rejects, the conservative gate).

    ONE corpus scan (r15): feature-less documents ride the same explode
    via ``explode_outer`` (their NULL feature row carries ``x = count(__t)
    = 0`` and joins nothing, so they aggregate to the same ``(0, 0, 0)``
    row the former second-scan union branch produced).  NULL-text
    documents stay excluded, exactly as before (their token array is
    NULL, filtered ahead of the explode — the old code dropped them from
    both branches)."""
    staged = _spread(docs).select(
        F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("__toks")
    ).filter(F.col("__toks").isNotNull())
    feat_arr = (
        F.concat(F.col("__toks"), T.shingles_of_tokens(F.col("__toks"), 2))
        if bigrams
        else F.col("__toks")
    )
    toks = staged.select("id", F.explode_outer(feat_arr).alias("__t"))
    feats = (
        toks.select("id", _feature_bucket(F.col("__t"), n_buckets).alias("b"), "__t")
        .groupBy("id", "b")
        .agg(F.count("__t").cast("long").alias("x"))
    )
    scored = (
        feats.join(F.broadcast(weights), "b", "left")
        .groupBy("id")
        .agg(
            F.sum("x").alias("n_feats"),
            F.sum(F.coalesce(F.col("w"), F.lit(0)) * F.col("x")).alias("margin"),
        )
    )
    return scored.select(
        F.col("id").alias(id_col),
        "n_feats",
        "margin",
        (F.col("margin") > 0).cast("int").alias("pred"),
    )


def classifier_margin_expr(
    text,
    weight_rows,
    *,
    n_buckets: int = N_BUCKETS,
    bigrams: bool = False,
):
    """The classifier margin as ONE scalar column expression — the fused
    serving form (r15): ``margin(text) = Σ_tokens w[bucket(token)]`` as a
    fold over the token array against the weight table embedded as an
    O(1)-indexed ARRAY literal (the model is ``n_buckets``-bounded by
    construction, so the literal is at most 1024 longs — the same bound
    that lets :func:`classifier_score` broadcast it).

    This lets a curation pipeline evaluate the classifier gate inside an
    EXISTING corpus scan (the quality barrier's projection) instead of
    paying a separate scan + feature shuffle + semi-join + payload
    re-materialization per batch.  Exact equivalence with
    :func:`classifier_score`'s margin: both are the same integer sum of
    per-occurrence bucket weights (longs — associative, order-free);
    missing buckets contribute 0 on both paths.

    ``weight_rows``: iterable of ``(b, w)`` pairs (e.g.
    ``weights.collect()`` — the weight frame is driver-local and bounded).
    A bucket outside ``[0, n_buckets)`` raises :class:`ValueError`: the
    model was trained with a different bucket count.
    """
    arr = [0] * n_buckets
    for r in weight_rows:
        b = int(r[0])
        if not 0 <= b < n_buckets:
            raise ValueError(
                f"classifier weight bucket {b} is outside [0, {n_buckets}): "
                f"the model was not trained with n_buckets={n_buckets}"
            )
        arr[b] = int(r[1])
    # ONE py4j round trip for the whole table (vs 1024 F.lit calls)
    warr = F.expr("array(" + ",".join(f"{w}L" for w in arr) + ")")
    toks = T.tokens(text)
    feats = (
        # bind the token array once (it is referenced twice) — the _let
        # rule for interpreted higher-order chains
        T._let(toks, lambda tt: F.concat(tt, T.shingles_of_tokens(tt, 2)))
        if bigrams
        else toks
    )
    # element_at is 1-indexed; bucket < n_buckets by construction
    return F.aggregate(
        feats,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.element_at(warr, (_feature_bucket(t, n_buckets) + 1).cast("int")),
    )


def classifier_score_sql(
    score_src: str,
    pos_src: str,
    neg_src: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    iterations: int = ITERATIONS,
    bigrams: bool = False,
) -> str:
    """DuckDB twin of ``train_quality_classifier`` + ``classifier_score``
    over arbitrary SQL sources: train on ``pos_src``/``neg_src`` (table
    names or parenthesized SELECTs) with the iterations unrolled as CTEs,
    then score every row of ``score_src`` — same bucket hash, same
    integer arithmetic, so margins are bit-identical."""
    table = score_src
    digit = "(strpos('0123456789abcdef', substr(md5(f), {d}, 1)) - 1)"
    h = " + ".join(f"{digit.format(d=d + 1)} * {16 ** (6 - d)}" for d in range(7))
    bucket = f"(CAST({h} AS BIGINT) % {n_buckets})"
    toks = T.tokens_sql(text_col)
    if bigrams:
        toks = f"list_concat({toks}, {T.shingles_sql(text_col, 2)})"

    parts = [
        f"""__feat AS (
            SELECT id, y, b, CAST(count(*) AS BIGINT) AS x FROM (
                SELECT {id_col} AS id, 1 AS y, {bucket} AS b FROM (
                    SELECT {id_col}, unnest({toks}) AS f FROM {pos_src}
                )
                UNION ALL
                SELECT {id_col} AS id, -1 AS y, {bucket} AS b FROM (
                    SELECT {id_col}, unnest({toks}) AS f FROM {neg_src}
                )
            ) GROUP BY 1, 2, 3
        )""",
        "__w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS w FROM __feat)",
    ]
    prev = "__w0"
    for t in range(1, iterations + 1):
        parts.append(
            f"""__m{t} AS (
                SELECT f.id, any_value(f.y) AS y, sum(w.w * f.x) AS margin
                FROM __feat f JOIN {prev} w USING (b) GROUP BY f.id
            )"""
        )
        parts.append(
            f"""__g{t} AS (
                SELECT f.b, sum(f.y * f.x) AS g
                FROM __feat f JOIN __m{t} m ON f.id = m.id
                WHERE m.y * m.margin <= 0 GROUP BY f.b
            )"""
        )
        parts.append(
            f"""__w{t} AS (
                SELECT w.b, w.w + coalesce(g.g, 0) AS w
                FROM {prev} w LEFT JOIN __g{t} g USING (b)
            )"""
        )
        prev = f"__w{t}"
    return f"""
        WITH {', '.join(parts)},
        __docf AS (
            SELECT id, b, CAST(count(*) AS BIGINT) AS x FROM (
                SELECT {id_col} AS id, {bucket} AS b FROM (
                    SELECT {id_col}, unnest({toks}) AS f FROM {table}
                )
            ) GROUP BY 1, 2
        ),
        __scored AS (
            SELECT f.id, sum(f.x) AS n_feats,
                   sum(coalesce(w.w, 0) * f.x) AS margin
            FROM __docf f LEFT JOIN {prev} w USING (b) GROUP BY f.id
        )
        SELECT id AS {id_col}, CAST(n_feats AS BIGINT) AS n_feats,
               CAST(margin AS BIGINT) AS margin,
               CAST(margin > 0 AS INT) AS pred
        FROM __scored
        UNION ALL
        SELECT {id_col}, CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
        FROM {table} WHERE len({toks}) = 0
    """

def quality_classifier_sql(
    table: str,
    pos_where: str,
    neg_where: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    iterations: int = ITERATIONS,
    bigrams: bool = False,
) -> str:
    """DuckDB twin: train on the ``pos_where``/``neg_where`` slices of
    ``table`` and score every row of it (the self-labelled registry
    shape; :func:`classifier_score_sql` is the general sources form)."""
    return classifier_score_sql(
        table,
        f"(SELECT * FROM {table} WHERE {pos_where})",
        f"(SELECT * FROM {table} WHERE {neg_where})",
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        iterations=iterations,
        bigrams=bigrams,
    )
