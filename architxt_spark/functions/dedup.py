"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the point of each variant):

- **exact**: one hash-groupBy on the normalized-content fingerprint.  At
  100 TB this is the cheapest possible full-corpus dedup (map-side partial
  aggregation, one shuffle on the 16-byte hash).
- **n-gram Jaccard (exact)**: candidate pairs from a shingle inverted index
  (join on shingle ⇒ full recall: any pair with Jaccard > 0 shares a
  shingle), then exact Jaccard on the pair.  High-document-frequency
  shingles are capped (``max_shingle_df``) — they generate quadratic pair
  blowup but only ever link near-identical boilerplate.
- **MinHash+LSH**: banded minhash signatures; pairs sharing ≥1 band.
  Hashes are md5-based and deterministic, so the SQL oracle reproduces the
  exact same bands — no approximate-vs-exact drift in the correctness gate.
- **SimHash**: 32-bit sign-of-weighted-sum signature on token hashes;
  equal signatures ⇒ near-dup buckets.
- **embedding cosine**: see :mod:`architxt_spark.functions.ann`.

All Spark forms are built-in expressions (codegen); the ``*_sql`` forms
render the same definition for DuckDB.
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from architxt_spark.functions import text as T
from architxt_spark.session import held, stage_barrier

MINHASH_K = 16
MINHASH_BAND_SIZE = 4
SIMHASH_BITS = 32


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the input
    has fewer partitions (e.g. one small parquet file ⇒ one partition ⇒
    single-threaded hashing).  At real scale inputs already have ≥ cores
    splits, so this is a no-op — no shuffle of bulk data.

    The small-input check reads ``df.inputFiles()`` — pure metadata, no
    job, and unlike ``df.rdd.getNumPartitions()`` it does not build the
    RDD-conversion plan on every call.  Non-file sources report no files
    and are left alone (their upstream already chose a partitioning); a
    single file smaller than ``maxPartitionBytes × cores`` is exactly the
    tiny-test-file case this guards."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        n_inputs = len(df.inputFiles())
    except Exception:  # noqa: BLE001 — unknown source: assume upstream partitioning
        return df
    if 0 < n_inputs < target:
        return df.repartition(target)
    return df


#: target inverted-index rows per shuffle partition for the pair
#: generators' self-joins.  The r11 4M-doc Zipf rung measured the
#: residual super-linearity (exponent 1.13) as partial-aggregate spill
#: at the session's fixed 32 shuffle partitions, dropping to 1.09 with
#: partitions hand-sized to the data (64 ≈ 2.5M index rows/partition).
#: 4M rows ≈ 64 MB of (long, long) index per partition — hash-join
#: build + partial-agg state comfortably in-memory per task.
_PAIR_ROWS_PER_PARTITION = 4_000_000


def _pair_shuffle_width(spark, n_index_rows: int) -> int:
    """Shuffle width for an inverted-index self-join, derived from the
    MEASURED index row count (the pair generators already force an eager
    count when they hold the index — the estimate is free).  Returns
    0 when the session default parallelism suffices, so small inputs
    keep their existing plans with no extra exchange; larger indexes get
    a power-of-two width sized to ``_PAIR_ROWS_PER_PARTITION`` — the
    knob a cluster operator would set globally, derived per-operator
    from the data instead (r11 verdict #5)."""
    base = spark.sparkContext.defaultParallelism
    need = -(-n_index_rows // _PAIR_ROWS_PER_PARTITION)
    if need <= base:
        return 0
    return 1 << (int(need) - 1).bit_length()


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(fingerprint, n_docs, keep_id): groups of exact duplicates with the
    kept representative (min id).  One hash-shuffle; map-side combinable."""
    return (
        _spread(df)
        .select(T.fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col).alias("id"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------


#: affine permutation constants for the minwise family: one md5 per
#: DISTINCT shingle → 28-bit int h, then perm_i(h) = (h·A[i] + B[i]) mod 2³².
#: h < 2²⁸ and A < 2³² keep every product < 2⁶⁰ — no BIGINT overflow on
#: either engine, so Spark and DuckDB compute bit-identical signatures.
_MINHASH_MOD = 1 << 32
_MINHASH_A = [((2 * i + 1) * 2654435761) % _MINHASH_MOD for i in range(MINHASH_K)]
_MINHASH_B = [(i * 2246822519 + 3266489917) % _MINHASH_MOD for i in range(MINHASH_K)]


def _shingle_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sh): distinct word-3-gram shingles, with the token split behind
    a projection barrier (multi-referenced alias — CollapseProject will not
    inline it, so the split runs once per row, not once per shingle)."""
    toks = _spread(df).select(
        F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("toks")
    )
    return toks.select(
        "id", F.array_distinct(T.shingles_of_tokens(F.col("toks"))).alias("sh")
    )


def _shingle_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, s) rows — one row per DISTINCT shingle per document.  The
    exploded-row form is the fast path: downstream hashing runs row-wise in
    whole-stage codegen instead of per-element inside interpreted
    higher-order functions.

    No scratch cache sits before the explode: the engine session profile
    (``session.ENGINE_CONF``) excludes ``InferFiltersFromGenerate``, so the
    Generate carries no inferred ``size(sh) > 0`` filter that would inline
    the interpreted token/shingle chain and evaluate it a second time."""
    return _shingle_frame(df, text_col, id_col).select("id", F.explode("sh").alias("s"))


def minhash_signature_of_ints(hs: Column, k: int = MINHASH_K) -> Column:
    """k affine-permutation minhashes over a PRE-COMPUTED shingle-int array;
    NULL when the document has no shingles."""

    def perm(a: int, b: int):
        return lambda h: (h * a + b) % _MINHASH_MOD

    return F.when(
        F.size(hs) > 0,
        F.array(*[
            F.array_min(F.transform(hs, perm(_MINHASH_A[i], _MINHASH_B[i])))
            for i in range(k)
        ]),
    )


def minhash_signature(col: Column, k: int = MINHASH_K) -> Column:
    """Single-expression form (convenience; prefer the frame pipeline in
    :func:`minhash_lsh_pairs` which avoids re-evaluating the hash chain)."""
    sh = F.array_distinct(T.shingles(col))
    hs = F.transform(sh, lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long"))
    return minhash_signature_of_ints(hs, k)


@T._memo_expr
def minhash_bands(sig: Column, k: int = MINHASH_K, band_size: int = MINHASH_BAND_SIZE) -> Column:
    """LSH band keys derived from an ALREADY-COMPUTED signature column —
    never recomputes the signature.  Memoized per JVM (``text._memo_expr``
    — 84 ms of py4j construction per call otherwise)."""
    return F.array(*[
        F.concat(
            F.lit(f"{b}:"),
            F.array_join(
                F.transform(
                    F.slice(sig, b * band_size + 1, band_size), lambda x: x.cast("string")
                ),
                "|",
            ),
        )
        for b in range(k // band_size)
    ])


def shingle_md5_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(id, m)`` — one row per distinct word-3-gram shingle per
    document, ``m`` = the full 32-hex md5 of the shingle.  The shared
    front half of the md5-keyed pair generators (r15):
    :func:`ngram_jaccard_pairs` keys its inverted index on
    ``conv(substr(m,1,15))`` and :func:`minhash_lsh_pairs` derives its
    28-bit permutation inputs from ``conv(substr(m,1,7))``, so a caller
    running BOTH (the registry's dedup_pairs fold) scopes this frame
    with ``session.held`` and hands it to each: the corpus is tokenized,
    shingled, exploded and md5-hashed ONCE instead of once per
    generator."""
    return _shingle_rows(df, text_col, id_col).select("id", F.md5(F.col("s")).alias("m"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_band_df: int | None = None,
    signatures: DataFrame | None = None,
    md5_rows: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band, with the
    minhash-estimated Jaccard (fraction of equal signature components).

    ``signatures`` (optional): a pre-computed, already-materialized
    ``(id, sig)`` frame for ``df`` — callers that need the signature
    frame anyway (:func:`dedup_filter` hands it on to the
    decontamination stage) pass it here so the corpus is scanned and
    shingle-hashed ONCE per pipeline, not once per consumer; the pair
    frame then stays lazy over it.  Without ``signatures`` the frame built
    here is ``held`` for the band self-join and released before return,
    so the (small) pair frame comes back materialized behind a
    :func:`stage_barrier`.

    Scale shape: shingles explode to rows so the md5 runs in whole-stage
    codegen (not per-element in an interpreted lambda); the 16 permutation
    minima are ONE map-side-combinable groupBy — the shuffle carries 16
    longs per document.  The band self-join carries (id, band) only — the
    signature arrays rejoin AFTER the distinct.

    ``max_band_df`` caps the band self-join's hot buckets: a band shared by
    M documents emits M·(M−1)/2 pairs, and on web data the modal duplicate
    class is exactly millions of near-identical copies of one template —
    an uncapped bucket is the one quadratic blowup this operator can hit
    at 100 TB.  Bands with document frequency > ``max_band_df`` are
    excluded from pair generation (mirroring ``ngram_jaccard_pairs``'
    ``max_shingle_df``), making the result exact over the capped band
    universe and identical across engines.  Production keep-set paths
    (:func:`dedup_filter`) additionally restrict the input to
    exact-duplicate representatives first, which removes the dominant
    hot-band source without changing the keep-set at all."""
    if signatures is not None:
        return _band_pairs(signatures, max_band_df)  # stays lazy over the caller's frame
    if md5_rows is not None:
        # shared md5 front half (see shingle_md5_rows): derive the 28-bit
        # permutation inputs from the caller's rows instead of
        # re-tokenizing the corpus
        h = F.conv(F.substring(F.col("m"), 1, 7), 16, 10).cast("long")
        base = (
            md5_rows.select("id", h.alias("h"))
            .groupBy("id")
            .agg(*_minhash_min_aggs())
            .select(
                "id",
                F.array(*[F.col(f"m{i}") for i in range(MINHASH_K)]).alias("sig"),
            )
        )
    else:
        base = _signature_frame(df, text_col, id_col)
    with held(base):
        base.count()  # eager: both self-join branches would otherwise race
        # to materialize the cache and compute the signature pipeline twice
        # materialize the SMALL pair frame before the signatures are released
        return _band_pairs(base, max_band_df).transform(stage_barrier)


def _band_pairs(base: DataFrame, max_band_df: int | None) -> DataFrame:
    """``(id_a, id_b, est_jaccard)`` over an ``(id, sig)`` frame — the band
    self-join and estimate of :func:`minhash_lsh_pairs`.

    NOTE (r15, measured and REJECTED): carrying ``sig`` through the band
    self-join to delete the est-rejoin below was A/B'd in two variants —
    est-per-banded-occurrence (2× slower at sf0.1: the interpreted
    zip_with ran up to bands× per pair, pre-distinct) and
    groupBy+first(sig) (flat at sf0.1; 1M-doc Zipf rung 24.6 s vs 22.0 s
    at matched calib; 4M rung 70.7 vs 73.1 s raw on a slower-probe
    before-host — no win).  The carried shape also shuffles ~4× the pair
    bytes at scale (two 16-long signatures per candidate row vs two
    longs), against guide §8's decide-with-small-rows rule — the rejoin
    keeps the 64M-pair shuffle at 16 bytes/row and attaches signatures
    to the (far smaller) distinct pair set."""
    banded = base.select("id", F.explode(minhash_bands(F.col("sig"))).alias("band"))
    if max_band_df is not None:
        heavy = banded.groupBy("band").count().filter(F.col("count") > max_band_df).select("band")
        banded = banded.join(F.broadcast(heavy), "band", "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = base.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = base.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda e: e,
        )
    ) / F.size(F.col("sig_a"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))
    )


def _signature_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sig): the 16-permutation minhash signature frame — the shared
    front half of every banded operator (codegen shingle hashing, ONE
    map-combinable groupBy).  Nothing is cached on the way: the session
    profile keeps the explode from re-evaluating the shingle chain (see
    `_shingle_rows`)."""
    h = F.conv(F.substring(F.md5(F.col("s")), 1, 7), 16, 10).cast("long")
    hs_rows = _shingle_rows(df, text_col, id_col).select("id", h.alias("h"))
    return (
        hs_rows.groupBy("id")
        .agg(*_minhash_min_aggs())
        .select("id", F.array(*[F.col(f"m{i}") for i in range(MINHASH_K)]).alias("sig"))
    )


@T._memo_expr
def _minhash_min_aggs() -> list:
    """The 16 permutation-min aggregate expressions over the shingle-hash
    column ``h`` — pure literals, memoized per JVM (py4j construction)."""
    return [
        F.min((F.col("h") * _MINHASH_A[i] + _MINHASH_B[i]) % _MINHASH_MOD).alias(f"m{i}")
        for i in range(MINHASH_K)
    ]


def minhash_cross_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    *,
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    max_band_df: int | None = None,
    corpus_signatures: DataFrame | None = None,
) -> DataFrame:
    """Document-level decontamination candidates: ``(corpus_id, bench_id,
    est_jaccard)`` for corpus×benchmark pairs sharing ≥1 LSH band — the
    near-dup screen that removes TRAINING documents overlapping an
    EVALUATION set (the document-level complement of the n-gram
    ``contamination_check``).

    Scale shape: the benchmark side is small by definition (an eval
    suite), so its band index BROADCASTS — the corpus is scanned once
    and never shuffled on the band key; ``max_band_df`` caps degenerate
    corpus-side bands exactly as in :func:`minhash_lsh_pairs`.

    ``corpus_signatures`` (optional): a pre-computed, already-
    materialized ``(id, sig)`` frame covering the corpus rows — a
    pipeline that just ran :func:`dedup_filter` already holds these
    signatures, and passing them here removes this operator's own
    corpus scan + shingle-hash pass (signatures depend only on the
    text, so the values are identical by construction)."""
    # landed: the band explode reads each side, and the pair frame
    # returned here stays lazy over both
    if corpus_signatures is not None:
        ca = corpus_signatures
    else:
        ca = stage_barrier(_signature_frame(corpus, text_col, id_col))
    cb = stage_barrier(
        _signature_frame(benchmark, bench_text_col or text_col, bench_id_col or id_col)
    )
    # signatures ride the band rows (see minhash_lsh_pairs, r15): the
    # corpus side is scanned ONCE and the former est-rejoin — which
    # re-shuffled the corpus signature frame onto the pair set — is gone;
    # the benchmark side stays a broadcast either way.
    banded_a = ca.select(
        F.col("id").alias("corpus_id"),
        F.col("sig").alias("sig_a"),
        F.explode(minhash_bands(F.col("sig"))).alias("band"),
    )
    if max_band_df is not None:
        heavy = (
            banded_a.groupBy("band").count().filter(F.col("count") > max_band_df).select("band")
        )
        banded_a = banded_a.join(F.broadcast(heavy), "band", "left_anti")
    banded_b = cb.select(
        F.col("id").alias("bench_id"),
        F.col("sig").alias("sig_b"),
        F.explode(minhash_bands(F.col("sig"))).alias("band"),
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda e: e,
        )
    ) / F.size(F.col("sig_a"))
    return (
        banded_a.join(F.broadcast(banded_b), "band")
        .select("corpus_id", "bench_id", F.round(est, 4).alias("est_jaccard"))
        .distinct()
    )


def decontaminate_drop_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    max_band_df: int | None = 10_000,
    corpus_signatures: DataFrame | None = None,
) -> DataFrame:
    """The decontamination DROP set alone — ``(id_col,)`` of corpus rows
    whose minhash similarity to ANY benchmark document reaches
    ``threshold``.  Benchmark-bounded and small; a pipeline barriers THIS
    frame and applies the anti-join lazily, instead of re-materializing
    the full survivor payload just to record the stage (r15)."""
    return (
        minhash_cross_pairs(
            corpus,
            benchmark,
            text_col,
            id_col,
            bench_text_col=bench_text_col,
            bench_id_col=bench_id_col,
            max_band_df=max_band_df,
            corpus_signatures=corpus_signatures,
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )


def decontaminate_filter(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    max_band_df: int | None = 10_000,
    corpus_signatures: DataFrame | None = None,
) -> DataFrame:
    """Corpus rows surviving document-level eval decontamination: any row
    whose minhash similarity to ANY benchmark document reaches
    ``threshold`` is dropped.  The drop set is benchmark-bounded and the
    final filter is one anti-join.  ``corpus_signatures`` — see
    :func:`minhash_cross_pairs`."""
    hits = decontaminate_drop_ids(
        corpus,
        benchmark,
        text_col,
        id_col,
        threshold=threshold,
        bench_text_col=bench_text_col,
        bench_id_col=bench_id_col,
        max_band_df=max_band_df,
        corpus_signatures=corpus_signatures,
    )
    return corpus.join(hits, id_col, "left_anti")


def minhash_cross_pairs_sql(
    corpus_table: str,
    bench_table: str,
    text_col: str,
    id_col: str,
    *,
    max_band_df: int | None = None,
) -> str:
    """DuckDB twin of :func:`minhash_cross_pairs` (same signatures, same
    band strings, same cap)."""
    k, r = MINHASH_K, MINHASH_BAND_SIZE
    a_lst = "[" + ", ".join(str(a) for a in _MINHASH_A) + "]"
    b_lst = "[" + ", ".join(str(b) for b in _MINHASH_B) + "]"
    hs = _shingle_ints_sql(text_col)
    sig = (
        f"list_transform(range(0, {k}),"
        f" i -> list_min(list_transform(hs, h -> (h * ({a_lst})[i+1] + ({b_lst})[i+1]) % {_MINHASH_MOD})))"
    )
    band = (
        f"unnest(list_transform(range(0, {k // r}),"
        f" b -> b::varchar || ':' ||"
        f" array_to_string(list_transform(sig[b*{r}+1 : b*{r}+{r}], x -> x::varchar), '|')))"
    )
    band_src = "__ba"
    cap = ""
    if max_band_df is not None:
        cap = f""",
        __heavy AS (SELECT band FROM __ba GROUP BY band HAVING COUNT(*) > {max_band_df}),
        __ba_ok AS (SELECT * FROM __ba WHERE band NOT IN (SELECT band FROM __heavy))"""
        band_src = "__ba_ok"
    return f"""
        WITH __sa AS (
            SELECT id, {sig} AS sig FROM (
                SELECT {id_col} AS id, {hs} AS hs FROM {corpus_table}
            ) WHERE len(hs) > 0
        ),
        __sb AS (
            SELECT id, {sig} AS sig FROM (
                SELECT {id_col} AS id, {hs} AS hs FROM {bench_table}
            ) WHERE len(hs) > 0
        ),
        __ba AS (SELECT id, {band} AS band FROM __sa),
        __bb AS (SELECT id, {band} AS band FROM __sb){cap},
        __pairs AS (
            SELECT DISTINCT a.id AS corpus_id, b.id AS bench_id
            FROM {band_src} a JOIN __bb b ON a.band = b.band
        )
        SELECT corpus_id, bench_id,
               ROUND(len(list_filter(list_transform(range(1, len(sa.sig)+1), i -> sa.sig[i] = sb.sig[i]), e -> e))
                     / CAST(len(sa.sig) AS DOUBLE), 4) AS est_jaccard
        FROM __pairs
        JOIN __sa sa ON sa.id = __pairs.corpus_id
        JOIN __sb sb ON sb.id = __pairs.bench_id
    """


def decontaminate_filter_sql(
    corpus_table: str,
    bench_table: str,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    max_band_df: int | None = 10_000,
) -> str:
    """DuckDB twin of :func:`decontaminate_filter` — corpus rows whose
    minhash similarity to every benchmark document stays below
    ``threshold`` (same signatures, same band screen, same 4-dp
    estimate).  NOT EXISTS, not NOT IN: the Spark side is a
    ``left_anti`` join, which keeps NULL-id rows, and ``NOT IN``
    diverges the moment either side holds a NULL."""
    pairs = minhash_cross_pairs_sql(
        corpus_table, bench_table, text_col, id_col, max_band_df=max_band_df
    )
    return f"""
        SELECT t.* FROM {corpus_table} t
        WHERE NOT EXISTS (
            SELECT 1 FROM ({pairs}) __hit
            WHERE __hit.est_jaccard >= {threshold}
              AND __hit.corpus_id = t.{id_col}
        )
    """


def _shingle_ints_sql(text_col: str) -> str:
    # 28-bit int from the first 7 hex digits of md5 — digit-position
    # arithmetic (DuckDB has no conv()); equals Spark's conv(substr(md5,1,7)).
    digit = "(strpos('0123456789abcdef', substr(md5(s), {d}, 1)) - 1)"
    h = " + ".join(f"{digit.format(d=d + 1)} * {16 ** (6 - d)}" for d in range(7))
    return (
        f"list_transform(list_distinct({T.shingles_sql(text_col)}),"
        f" s -> CAST({h} AS BIGINT))"
    )


def minhash_lsh_pairs_sql(
    table: str, text_col: str, id_col: str, *, max_band_df: int | None = None
) -> str:
    k, r = MINHASH_K, MINHASH_BAND_SIZE
    a_lst = "[" + ", ".join(str(a) for a in _MINHASH_A) + "]"
    b_lst = "[" + ", ".join(str(b) for b in _MINHASH_B) + "]"
    hs = _shingle_ints_sql(text_col)
    sig = (
        f"list_transform(range(0, {k}),"
        f" i -> list_min(list_transform(hs, h -> (h * ({a_lst})[i+1] + ({b_lst})[i+1]) % {_MINHASH_MOD})))"
    )
    band_src = "banded"
    band_cap = ""
    if max_band_df is not None:
        band_cap = f""",
        heavy_bands AS (
            SELECT band FROM banded GROUP BY band HAVING COUNT(*) > {max_band_df}
        ),
        banded_ok AS (
            SELECT * FROM banded WHERE band NOT IN (SELECT band FROM heavy_bands)
        )"""
        band_src = "banded_ok"
    return f"""
        WITH ints AS (
            SELECT {id_col} AS id, {hs} AS hs FROM {table}
        ),
        sigs AS (
            SELECT id, {sig} AS sig FROM ints WHERE len(hs) > 0
        ),
        banded AS (
            SELECT id,
                   unnest(list_transform(range(0, {k // r}),
                          b -> b::varchar || ':' ||
                               array_to_string(list_transform(sig[b*{r}+1 : b*{r}+{r}], x -> x::varchar), '|'))) AS band
            FROM sigs
        ){band_cap},
        pairs AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM {band_src} a JOIN {band_src} b ON a.band = b.band AND a.id < b.id
        )
        SELECT id_a, id_b,
               ROUND(len(list_filter(list_transform(range(1, len(sa.sig)+1), i -> sa.sig[i] = sb.sig[i]), e -> e))
                     / CAST(len(sa.sig) AS DOUBLE), 4) AS est_jaccard
        FROM pairs
        JOIN sigs sa ON sa.id = pairs.id_a
        JOIN sigs sb ON sb.id = pairs.id_b
    """


# ---------------------------------------------------------------------------
# exact n-gram Jaccard via shingle inverted index
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.8,
    max_shingle_df: int = 1000,
    md5_rows: DataFrame | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold, computed
    over the DF-capped shingle vocabulary.

    Scale shape: NO all-pairs and NO array shipping — the inverted index
    self-join counts common shingles per pair directly
    (``groupBy(id_a,id_b).count()``), and Jaccard is derived from
    ``n_common / (n_a + n_b − n_common)`` via two tiny size joins.
    Shingles with document frequency > ``max_shingle_df`` (degenerate
    boilerplate; quadratic pair blowup) are excluded from the vocabulary on
    BOTH the candidate and the similarity side, so the result is exact over
    the capped universe and identical across engines.  The heavy-shingle
    set is tiny by construction — anti-joined as a broadcast.

    The index carries a 60-bit md5-prefix FINGERPRINT of each shingle,
    not the string (r11): the self-join's sort/compare works on 8-byte
    longs and the cached index shrinks ~4× — measured 262 s → ~60 s at
    4M docs (the 1M→4M exponent had crept to 1.30 on string keys from
    cache-eviction + sort-spill thrash; span_pairs' hash-keyed join at
    the same scale held 1.02).  Counting over fingerprints is mirrored
    EXACTLY by the SQL twin (same 15-hex-digit arithmetic applied after
    the same per-document distinct), so a fingerprint collision — one
    in ~2·10⁻¹⁸ per shingle pair — would merge the same pair of
    shingles in both engines; parity is unconditional."""
    # no size guard: explode drops empty arrays, and a size() filter
    # gets predicate-pushed through the projection barrier, inlining the
    # whole shingle chain into the filter (per-element re-evaluation).
    if md5_rows is not None:
        # shared md5 front half (see shingle_md5_rows): the fingerprint
        # is a cheap substring+conv over the caller's held rows, so no
        # second cache is taken here
        fp15 = F.conv(F.substring(F.col("m"), 1, 15), 16, 10).cast("long")
        index = nullcontext(md5_rows.select("id", fp15.alias("s")))
    else:
        # hold the exploded index: the heavy-set aggregation and both
        # self-join sides read it
        fp = F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("long")
        index = held(_shingle_rows(df, text_col, id_col).select("id", fp.alias("s")))
    with index as raw:
        n_index = raw.count()  # eager for the same both-branches-race reason as minhash
        heavy = raw.groupBy("s").count().filter(F.col("count") > max_shingle_df).select("s")
        inv = raw.join(F.broadcast(heavy), "s", "left_anti")
        # auto-sized self-join width (r11 #5): past ~128M index rows the
        # fixed session width spills the join-side partial aggregate —
        # repartition on the join key so the co-partitioned self-join
        # and its per-pair count run at a width matched to the data
        # (one exchange, where the shuffle-hash join needed one anyway)
        width = _pair_shuffle_width(df.sparkSession, n_index)
        if width:
            inv = inv.repartition(width, "s")
        sizes = inv.groupBy("id").agg(F.count("*").alias("n_sh"))
        # shuffle_hash hint: the index self-join would otherwise pick a
        # sort-merge join, paying TWO full sorts of the fingerprint index
        # — the rising term past 1M docs (4M rung: 162 s SMJ → 123 s SHJ,
        # 1M→4M exponent 1.27 → ~1.1).  Hot keys are capped at
        # max_shingle_df, so per-partition hash-map build memory is
        # bounded by partition size, the same contract the SMJ needed.
        common = (
            inv.alias("a").hint("shuffle_hash")
            .join(inv.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_common"))
        )
        sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
        sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
        jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        out = (
            common.join(sa, "id_a")
            .join(sb, "id_b")
            .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
        # materialize the SMALL pair frame, then release the held index
        return out.transform(stage_barrier)


def ngram_jaccard_pairs_sql(
    table: str, text_col: str, id_col: str, *, threshold: float = 0.8, max_shingle_df: int = 1000
) -> str:
    sh = T.shingles_sql(text_col)
    # 60-bit md5-prefix fingerprint, applied AFTER the per-document
    # distinct — the exact mirror of the Spark index (see
    # ngram_jaccard_pairs); digit-position arithmetic because DuckDB has
    # no conv()
    digit = "(strpos('0123456789abcdef', substr(md5(s0), {d}, 1)) - 1)"
    fp = " + ".join(f"{digit.format(d=d + 1)} * {16 ** (14 - d)}" for d in range(15))
    return f"""
        WITH base AS (
            SELECT {id_col} AS id, list_distinct({sh}) AS sh
            FROM {table}
            WHERE len({sh}) > 0
        ),
        inv_all AS (
            SELECT id, CAST({fp} AS BIGINT) AS s
            FROM (SELECT id, unnest(sh) AS s0 FROM base)
        ),
        heavy AS (SELECT s FROM inv_all GROUP BY s HAVING COUNT(*) > {max_shingle_df}),
        inv AS (SELECT * FROM inv_all WHERE s NOT IN (SELECT s FROM heavy)),
        sizes AS (SELECT id, COUNT(*) AS n_sh FROM inv GROUP BY id),
        common AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
            FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4) AS jaccard
        FROM common
        JOIN sizes sa ON sa.id = common.id_a
        JOIN sizes sb ON sb.id = common.id_b
        WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= {threshold}
    """


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def _simhash_of_md5s(hts: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash from PRE-COMPUTED per-token md5 hex strings: bit b of each
    token hash via hex-digit arithmetic (exactly reproducible in SQL);
    signature bit = sign of the summed ±1 votes."""
    hexdigits = "0123456789abcdef"

    def tok_bit(h: Column, b: int) -> Column:
        digit = F.substring(h, b // 4 + 1, 1)
        dv = F.instr(F.lit(hexdigits), digit) - 1
        shift = 3 - b % 4
        return F.floor(dv / (2 ** shift)) % 2

    def merge_for(bb: int):
        # closure factory — a default-arg lambda would get a Column bound to
        # the extra parameter by pyspark's higher-order-function wrapper
        return lambda a, h: a + 2 * tok_bit(h, bb) - 1

    acc = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(hts, F.lit(0).cast("long"), merge_for(b))
        acc = acc + F.when(vote > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
    return F.when(F.size(hts) > 0, acc)


def simhash(col: Column, bits: int = SIMHASH_BITS) -> Column:
    """Single-expression form (prefer :func:`simhash_buckets`' frame
    pipeline, which hashes each token once instead of once per bit)."""
    return _simhash_of_md5s(F.transform(T.tokens(col), F.md5), bits)


def simhash_buckets(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of documents with identical simhash (near-dup buckets).

    Scale shape: tokens explode to rows (md5 + hex-digit bit math run in
    whole-stage codegen, one md5 per token), the 32 per-bit ±1 votes are
    ONE map-side-combinable groupBy(id) — the shuffle carries 32 ints per
    document; token-less documents drop out naturally."""
    tok_rows = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(T.tokens(F.col(text_col))).alias("tok")
    )
    hexdigits = "0123456789abcdef"
    h = F.md5(F.col("tok"))
    votes = []
    for b in range(SIMHASH_BITS):
        digit = F.substring(h, b // 4 + 1, 1)
        dv = F.instr(F.lit(hexdigits), digit) - 1
        shift = 3 - b % 4
        bit = F.floor(dv / (2 ** shift)) % 2
        votes.append(F.sum(2 * bit - 1).alias(f"v{b}"))
    sig = sum(
        (
            F.when(F.col(f"v{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
            for b in range(SIMHASH_BITS)
        ),
        F.lit(0).cast("long"),
    )
    return (
        tok_rows.groupBy("id")
        .agg(*votes)
        .select(F.col("id"), sig.alias("simhash"))
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_sql(col: str, bits: int = SIMHASH_BITS) -> str:
    t = T.tokens_sql(col)
    terms = []
    for b in range(bits):
        digit = f"substr(md5(tok), {b // 4 + 1}, 1)"
        dv = f"(strpos('0123456789abcdef', {digit}) - 1)"
        bit = f"(floor({dv} / {2 ** (3 - b % 4)})::bigint % 2)"
        vote = f"list_sum(list_transform({t}, tok -> 2 * {bit} - 1))"
        terms.append(f"(CASE WHEN {vote} > 0 THEN {2 ** b}::BIGINT ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def simhash_buckets_sql(table: str, text_col: str, id_col: str) -> str:
    return f"""
        SELECT {simhash_sql(text_col)} AS simhash,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN({id_col}) AS keep_id
        FROM {table}
        WHERE len({T.tokens_sql(text_col)}) > 0
        GROUP BY 1
        HAVING COUNT(*) > 1
    """


# ---------------------------------------------------------------------------
# end-to-end keep-set (exact + near-dup greedy filter)
# ---------------------------------------------------------------------------


def dedup_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    near_threshold: float = 0.5,
    max_band_df: int = 10_000,
    signatures_out: list | None = None,
) -> DataFrame:
    """Documents surviving deduplication: per exact-duplicate group only the
    min-id representative survives, and the greater id of every MinHash
    near-dup pair (est_jaccard ≥ threshold) is dropped — the standard
    greedy keep-first policy.  Returns the kept ids.

    Scale shape: both inputs are the already-scalable building blocks
    (fingerprint groupBy + banded LSH join); the final filter is one
    broadcast-able anti-join on the (small) drop set.

    The near-dup pass runs over exact-duplicate REPRESENTATIVES only (one
    semi-join on the exact keep-set before signature computation).  This is
    keep-set-exact, not an approximation: an exact-dup loser has a
    bit-identical signature to its (smaller-id) representative, so any pair
    ``(loser, x)`` that would drop ``x`` is also witnessed by
    ``(representative, x)`` with the same bands and the same est_jaccard —
    restricting to representatives removes rows but never drops evidence.
    On web data the modal duplicate class is millions of byte-identical
    template copies; without the restriction those copies share every band
    and emit M²/2 candidate pairs.  ``max_band_df`` bounds the residual
    near-identical-but-not-exact bucket the same way (exact over the
    capped band universe; mirrored in the SQL twin).

    ``signatures_out`` (optional): pass a list to receive the landed
    ``(id, sig)`` minhash-signature frame of the representatives.  A
    curation pipeline's decontamination stage needs signatures for a
    SUBSET of these ids (the dedup survivors) — reusing this frame
    removes one full corpus scan + shingle-hash pass per pipeline run
    (:func:`~architxt_spark.functions.curation.curate_corpus` wires it
    through)."""
    fp = _spread(df).select(
        F.col(id_col).alias("id"), T.fingerprint(F.col(text_col)).alias("fp")
    )
    # landed: the reps semi-join and the returned anti-join both read it
    keep_exact = stage_barrier(fp.groupBy("fp").agg(F.min("id").alias("id")).select("id"))
    reps = df.join(
        keep_exact.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )
    # landed: band explode + est rejoin (+ any signatures_out consumer)
    # all read it — same both-branches-race rule as minhash_lsh_pairs
    sig = stage_barrier(_signature_frame(reps, text_col, id_col))
    if signatures_out is not None:
        signatures_out.append(sig)
    near = minhash_lsh_pairs(
        reps, text_col, id_col, max_band_df=max_band_df, signatures=sig
    ).filter(F.col("est_jaccard") >= near_threshold)
    drop_near = near.select(F.col("id_b").alias("id")).distinct()
    return keep_exact.join(drop_near, "id", "left_anti").select("id")


def dedup_filter_sql(
    table: str,
    text_col: str,
    id_col: str,
    *,
    near_threshold: float = 0.5,
    max_band_df: int = 10_000,
) -> str:
    reps = f"""(
            SELECT t.* FROM {table} t
            WHERE t.{id_col} IN (
                SELECT MIN({id_col}) FROM {table} GROUP BY {T.fingerprint_sql(text_col)}
            )
        )"""
    pairs = minhash_lsh_pairs_sql(reps, text_col, id_col, max_band_df=max_band_df)
    return f"""
        WITH keep_exact AS (
            SELECT MIN({id_col}) AS id
            FROM {table}
            GROUP BY {T.fingerprint_sql(text_col)}
        ),
        near AS ({pairs}),
        drop_near AS (SELECT DISTINCT id_b AS id FROM near WHERE est_jaccard >= {near_threshold})
        SELECT id FROM keep_exact WHERE id NOT IN (SELECT id FROM drop_near)
    """


def stream_minhash_dedup_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB twin of the two-batch incremental near-dup run staged by the
    gate query: batch A = even ids, batch B = odd ids, replaying
    ``streaming.corpus.minhash_dedup_batch``'s exact keep-set logic —
    within-batch losers share a band with ANY smaller surviving id, batch
    B is first screened against batch A's surviving band index.  Band keys
    are the same md5-derived strings as the Spark side, so the replay is
    bit-exact."""
    k, r = MINHASH_K, MINHASH_BAND_SIZE
    hs = _shingle_ints_sql(text_col)
    a_lst = "[" + ", ".join(str(a) for a in _MINHASH_A) + "]"
    b_lst = "[" + ", ".join(str(b) for b in _MINHASH_B) + "]"
    sig = (
        f"list_transform(range(0, {k}),"
        f" i -> list_min(list_transform(hs, h -> (h * ({a_lst})[i+1] + ({b_lst})[i+1]) % {_MINHASH_MOD})))"
    )
    return f"""
        WITH ints AS (
            SELECT {id_col} AS id, {hs} AS hs FROM {table}
        ),
        sigs AS (
            SELECT id, {sig} AS sig FROM ints WHERE len(hs) > 0
        ),
        banded AS (
            SELECT id,
                   unnest(list_transform(range(0, {k // r}),
                          b -> b::varchar || ':' ||
                               array_to_string(list_transform(sig[b*{r}+1 : b*{r}+{r}], x -> x::varchar), '|'))) AS band
            FROM sigs
        ),
        a_band AS (SELECT * FROM banded WHERE id % 2 = 0),
        b_band AS (SELECT * FROM banded WHERE id % 2 = 1),
        a_losers AS (
            SELECT DISTINCT x.id FROM a_band x
            JOIN a_band y ON x.band = y.band AND y.id < x.id
        ),
        kept_a AS (
            SELECT DISTINCT id FROM a_band
            WHERE id NOT IN (SELECT id FROM a_losers)
        ),
        index_bands AS (
            SELECT DISTINCT band FROM a_band WHERE id IN (SELECT id FROM kept_a)
        ),
        b_surv AS (
            SELECT DISTINCT id FROM b_band
            WHERE id NOT IN (SELECT DISTINCT id FROM b_band
                             WHERE band IN (SELECT band FROM index_bands))
        ),
        b_losers AS (
            SELECT DISTINCT x.id FROM b_band x
            JOIN b_band y ON x.band = y.band AND y.id < x.id
            WHERE x.id IN (SELECT id FROM b_surv)
              AND y.id IN (SELECT id FROM b_surv)
        ),
        kept_b AS (
            SELECT id FROM b_surv WHERE id NOT IN (SELECT id FROM b_losers)
        )
        SELECT id AS {id_col} FROM kept_a
        UNION ALL
        SELECT id AS {id_col} FROM kept_b
    """


def delta_merge_kept_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB twin of the two-batch ``sinks.corpus.merge_corpus`` replay:
    batch A = even ids bootstraps the corpus + indexes, batch B = odd ids
    merges against them — within-batch exact keep (min id per content
    fingerprint), anti-join against the fingerprint index (batch A's
    FINAL survivors), band screen against A's band index, then the
    within-batch band-min chain.  Fingerprints and band keys are the
    same md5-derived strings as the Spark side, so the replay is
    bit-exact."""
    from architxt_spark.functions.text import fingerprint_sql

    k, r = MINHASH_K, MINHASH_BAND_SIZE
    hs = _shingle_ints_sql("text")
    a_lst = "[" + ", ".join(str(a) for a in _MINHASH_A) + "]"
    b_lst = "[" + ", ".join(str(b) for b in _MINHASH_B) + "]"
    sig = (
        f"list_transform(range(0, {k}),"
        f" i -> list_min(list_transform(hs, h -> (h * ({a_lst})[i+1] + ({b_lst})[i+1]) % {_MINHASH_MOD})))"
    )
    return f"""
        WITH docs AS (SELECT {id_col} AS id, {text_col} AS text FROM {table}),
        fpx AS (SELECT id, {fingerprint_sql('text')} AS fp FROM docs),
        banded AS (
            SELECT id,
                   unnest(list_transform(range(0, {k // r}),
                          b -> b::varchar || ':' ||
                               array_to_string(list_transform(sig[b*{r}+1 : b*{r}+{r}], x -> x::varchar), '|'))) AS band
            FROM (SELECT id, {sig} AS sig
                  FROM (SELECT id, {hs} AS hs FROM docs) WHERE len(hs) > 0)
        ),
        a_exact AS (SELECT MIN(id) AS id FROM fpx WHERE id % 2 = 0 GROUP BY fp),
        a_band AS (SELECT * FROM banded WHERE id IN (SELECT id FROM a_exact)),
        a_losers AS (
            SELECT DISTINCT x.id FROM a_band x
            JOIN a_band y ON x.band = y.band AND y.id < x.id
        ),
        kept_a AS (
            SELECT DISTINCT id FROM a_band
            WHERE id NOT IN (SELECT id FROM a_losers)
        ),
        fp_index AS (
            SELECT DISTINCT fp FROM fpx WHERE id IN (SELECT id FROM kept_a)
        ),
        band_index AS (
            SELECT DISTINCT band FROM a_band WHERE id IN (SELECT id FROM kept_a)
        ),
        b_exact AS (
            SELECT MIN(id) AS id FROM fpx
            WHERE id % 2 = 1 AND fp NOT IN (SELECT fp FROM fp_index)
            GROUP BY fp
        ),
        b_band AS (SELECT * FROM banded WHERE id IN (SELECT id FROM b_exact)),
        b_surv AS (
            SELECT DISTINCT id FROM b_band
            WHERE id NOT IN (SELECT DISTINCT id FROM b_band
                             WHERE band IN (SELECT band FROM band_index))
        ),
        b_losers AS (
            SELECT DISTINCT x.id FROM b_band x
            JOIN b_band y ON x.band = y.band AND y.id < x.id
            WHERE x.id IN (SELECT id FROM b_surv)
              AND y.id IN (SELECT id FROM b_surv)
        ),
        kept_b AS (
            SELECT id FROM b_surv WHERE id NOT IN (SELECT id FROM b_losers)
        )
        SELECT id AS {id_col} FROM kept_a
        UNION ALL
        SELECT id AS {id_col} FROM kept_b
    """


# ---------------------------------------------------------------------------
# connected components (pairs -> dedup clusters)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    *,
    max_iterations: int = 25,
    iteration_log: list | None = None,
) -> DataFrame:
    """Distributed connected components over a pair frame: ``(id,
    component)`` with component = the minimum id reachable through the
    pairs.  The scale path for turning pairwise near-dup output
    (:func:`minhash_lsh_pairs`, :func:`ngram_jaccard_pairs`,
    ``cosine_near_dup_pairs``) into transitive dedup CLUSTERS — a
    driver-side union-find would collect every pair.

    Hash-min label propagation: per round, every vertex takes the min of
    its own label and its neighbours' (one join + one map-combinable
    groupBy-min), checkpointed so lineage stays linear in rounds.
    Converges in O(component diameter) rounds — near-dup components are
    shallow (stars/short chains), so the bound is small; ``max_iterations``
    caps pathological chains, and the loop exits on the first round with
    no label change (an aggregate-only job, no collect of rows).
    ``iteration_log``, when given, receives the per-round changed-label
    count — the scale rehearsal (``tools/scalebench.py --families
    components``) uses it for rounds-to-fixpoint and s/round.
    """
    e1 = pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
    edges = (
        e1.unionByName(e1.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(stage_barrier)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .transform(stage_barrier)
    )
    changed = 0
    for _ in range(max_iterations):
        msgs = edges.join(
            labels.select(F.col("id").alias("src"), "component"), "src"
        ).select(F.col("dst").alias("id"), "component")
        new = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .transform(stage_barrier)
        )
        changed = (
            new.join(labels.select("id", F.col("component").alias("old")), "id")
            .filter(F.col("component") < F.col("old"))
            .count()
        )
        labels = new
        if iteration_log is not None:
            iteration_log.append(changed)
        if not changed:
            break
    if changed:
        # silently returning unconverged labels would surface downstream as
        # an opaque cluster/oracle mismatch — a component deeper than the
        # round budget must be loud instead
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations}"
            f" iterations ({changed} labels still changing); a component's"
            " diameter exceeds the round budget — raise max_iterations"
        )
    return labels


def connected_components_sql(pairs_sql: str, left: str = "id_a", right: str = "id_b") -> str:
    """DuckDB oracle twin: min-label reachability via a recursive CTE."""
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
            SELECT {left} AS src, {right} AS dst FROM pairs
            UNION
            SELECT {right}, {left} FROM pairs
        ),
        reach(id, component) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.component FROM reach r JOIN edges e ON e.src = r.id
        )
        SELECT id, MIN(component) AS component FROM reach GROUP BY id
    """


# ---------------------------------------------------------------------------
# winnowed fingerprint near-dup (sub-linear index)
# ---------------------------------------------------------------------------


def _winnow_rows(df: DataFrame, text_col: str, id_col: str, n: int, w: int) -> DataFrame:
    """(id, f) rows — one row per winnowed fingerprint per document.  No
    scratch cache sits before the explode: the engine session profile
    (``session.ENGINE_CONF``) excludes ``InferFiltersFromGenerate``, so no
    inferred ``size(fp) > 0`` filter re-inlines the interpreted winnow
    chain beside the Generate."""
    return (
        _spread(df)
        .select(F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("__t"))
        .select("id", T.shingles_of_tokens(F.col("__t"), n).alias("__sh"))
        .select("id", F.transform("__sh", lambda s: F.md5(s)).alias("__h"))
        .select("id", T.winnow_of_hashes(F.col("__h"), w).alias("fp"))
        .select("id", F.explode("fp").alias("f"))
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    w: int = 4,
    min_common: int = 2,
    max_fp_df: int = 1000,
) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) sharing >= ``min_common``
    WINNOWED fingerprints (:func:`architxt_spark.functions.text.
    winnow_fingerprints`): any shared token run of >= n+w-1 tokens
    guarantees a shared fingerprint, so real overlaps survive while the
    inverted index carries only ~1/w of the shingle hashes — the
    sub-linear sibling of :func:`ngram_jaccard_pairs` for corpus-scale
    screening.  Same index shape: explode, DF-cap the degenerate
    fingerprints (broadcast anti-join), self-join, count per pair.

    The fingerprint arrays explode straight into the index with no
    scratch cache: the session profile keeps the explode from
    re-evaluating the winnow chain (see `_winnow_rows`).  The exploded
    index is held: the heavy-set aggregate and both self-join sides read
    it."""
    with held(_winnow_rows(df, text_col, id_col, n, w)) as raw:
        n_index = raw.count()  # eager: hash once; heavy-set agg + self-join read the cache
        heavy = raw.groupBy("f").count().filter(F.col("count") > max_fp_df).select("f")
        inv = raw.join(F.broadcast(heavy), "f", "left_anti")
        # auto-sized self-join width — same rationale as ngram_jaccard_pairs
        width = _pair_shuffle_width(df.sparkSession, n_index)
        if width:
            inv = inv.repartition(width, "f")
        out = (
            inv.alias("a")
            .join(inv.alias("b"), (F.col("a.f") == F.col("b.f")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_common"))
            .filter(F.col("n_common") >= min_common)
        )
        # materialize the SMALL pair frame so the big exploded index can be
        # released when the block closes
        return out.transform(stage_barrier)


def winnow_pairs_sql(
    table: str,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    w: int = 4,
    min_common: int = 2,
    max_fp_df: int = 1000,
) -> str:
    fp = T.winnow_fingerprints_sql(text_col, n, w)
    return f"""
        WITH base AS (
            SELECT {id_col} AS id, {fp} AS fp FROM {table} WHERE len({fp}) > 0
        ),
        inv0 AS (SELECT id, unnest(fp) AS f FROM base),
        heavy AS (SELECT f FROM inv0 GROUP BY f HAVING count(*) > {max_fp_df}),
        inv AS (SELECT * FROM inv0 WHERE f NOT IN (SELECT f FROM heavy))
        SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_common
        FROM inv a JOIN inv b ON a.f = b.f AND a.id < b.id
        GROUP BY a.id, b.id
        HAVING count(*) >= {min_common}
    """


# ---------------------------------------------------------------------------
# exact shared-span detection (suffix-array-style exact substring dedup)
# ---------------------------------------------------------------------------


def exact_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    min_tokens: int = 8,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Document pairs sharing an EXACT token run of at least ``min_tokens``
    tokens, with the longest shared run length — the exact-substring dedup
    signal (Lee et al., "Deduplicating Training Data Makes Language Models
    Better") that the winnowing screen approximates.

    Technique: positioned ``n``-gram hashes, an inverted-index self-join
    (document-frequency-capped like the other pair generators — never
    all-pairs), then run extension by the DIAGONAL trick: matches of a pair
    with equal ``pos_b - pos_a`` lie on one diagonal, and consecutive
    ``pos_a`` values on a diagonal form islands — ``island = pos_a -
    row_number()`` — each island of ``m`` matched n-grams being a shared
    run of ``m + n - 1`` tokens.  The extension window partitions by
    (pair, diagonal): bounded by that pair's matches, never a global sort.

    Returns ``(id_a, id_b, max_span)`` with ``id_a < id_b``.
    """
    # hash chain materialized stepwise before the posexplode — a generator
    # re-evaluates its expression per OUTPUT row, so an inlined chain is
    # O(shingles) per emitted shingle (see winnow_pairs).  The join key
    # is the 60-bit md5-prefix FINGERPRINT, not the 32-char md5 string
    # (r12 — the same fix ngram_jaccard_pairs got in r11: 8-byte long
    # keys sort/hash ~4× cheaper than strings; the SQL twin mirrors the
    # exact same 15-hex-digit arithmetic, so a collision — one in
    # ~2·10⁻¹⁸ per position pair — replays identically on both engines
    # and parity is unconditional).
    fpc = F.conv(F.substring(F.col("h0"), 1, 15), 16, 10).cast("long")
    positioned = (
        _spread(df)
        .select(F.col(id_col).alias("id"), T.tokens(F.col(text_col)).alias("__t"))
        .select("id", T.shingles_of_tokens(F.col("__t"), n).alias("__sh"))
        .select("id", F.transform("__sh", lambda s: F.md5(s)).alias("__h"))
        .select("id", F.posexplode("__h").alias("pos", "h0"))
        .select("id", "pos", fpc.alias("h"))
    )
    with held(positioned) as raw:
        # eager: the positioned index feeds the heavy-set aggregate AND both
        # self-join sides — holding it evaluates the interpreted hash chain
        # ONCE instead of three times, and the count is the free size
        # estimate the width rule needs (same shape as ngram/winnow, r12)
        n_index = raw.count()
        heavy = (
            raw.groupBy("h").count().filter(F.col("count") > max_shingle_df).select("h")
        )
        fp = raw.join(F.broadcast(heavy), "h", "left_anti")
        # auto-sized width + shuffle-hash (see ngram_jaccard_pairs): the
        # co-partitioned self-join's per-task hash build is bounded by
        # _PAIR_ROWS_PER_PARTITION — without the width, the 4M-doc rung's
        # ~160M-row build at session width cannot acquire memory (SHJ
        # builds don't spill); below the threshold the plan is unchanged
        # and the sort-merge join the optimizer picks is fine
        width = _pair_shuffle_width(df.sparkSession, n_index)
        if width:
            fp = fp.repartition(width, "h")
        a = fp.select(F.col("id").alias("id_a"), F.col("pos").alias("pa"), "h")
        b = fp.select(F.col("id").alias("id_b"), F.col("pos").alias("pb"), "h")
        hinted = a.hint("shuffle_hash") if width else a
        m = hinted.join(b, "h").filter(F.col("id_a") < F.col("id_b"))

        w = Window.partitionBy("id_a", "id_b", F.col("pb") - F.col("pa")).orderBy("pa")
        runs = (
            m.withColumn("island", F.col("pa") - F.row_number().over(w))
            .groupBy("id_a", "id_b", (F.col("pb") - F.col("pa")).alias("diag"), "island")
            .agg((F.count("*") + F.lit(n - 1)).alias("span"))
        )
        out = (
            runs.groupBy("id_a", "id_b")
            .agg(F.max("span").alias("max_span"))
            .filter(F.col("max_span") >= min_tokens)
        )
        # materialize the SMALL pair frame, then release the held index
        return out.transform(stage_barrier)


def exact_span_pairs_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    min_tokens: int = 8,
    max_shingle_df: int = 1000,
) -> str:
    """DuckDB twin of :func:`exact_span_pairs` — the 60-bit md5-prefix
    fingerprint mirrors the Spark join key exactly (digit-position
    arithmetic because DuckDB has no conv())."""
    fps = T.shingle_fingerprints_sql(text_col, n)
    digit = "(strpos('0123456789abcdef', substr(s0, {d}, 1)) - 1)"
    fp = " + ".join(f"{digit.format(d=d + 1)} * {16 ** (14 - d)}" for d in range(15))
    return f"""
        WITH fp_all AS (
            SELECT id, pos, CAST({fp} AS BIGINT) AS h FROM (
                SELECT {id_col} AS id, generate_subscripts(f, 1) - 1 AS pos,
                       unnest(f) AS s0
                FROM (SELECT {id_col}, {fps} AS f FROM {table})
            )
        ),
        heavy AS (SELECT h FROM fp_all GROUP BY h HAVING count(*) > {max_shingle_df}),
        fp AS (SELECT * FROM fp_all WHERE h NOT IN (SELECT h FROM heavy)),
        m AS (
            SELECT a.id AS id_a, b.id AS id_b, a.pos AS pa, b.pos AS pb
            FROM fp a JOIN fp b ON a.h = b.h AND a.id < b.id
        ),
        runs AS (
            SELECT id_a, id_b, pb - pa AS diag,
                   pa - ROW_NUMBER() OVER (
                       PARTITION BY id_a, id_b, pb - pa ORDER BY pa) AS island
            FROM m
        ),
        spans AS (
            SELECT id_a, id_b, CAST(count(*) + {n - 1} AS BIGINT) AS span
            FROM runs GROUP BY id_a, id_b, diag, island
        )
        SELECT id_a, id_b, max(span) AS max_span
        FROM spans GROUP BY id_a, id_b
        HAVING max(span) >= {min_tokens}
    """


# ---------------------------------------------------------------------------
# chunk-hash deduplication (CCNet paragraph-hash dedup, windowed)
# ---------------------------------------------------------------------------


def chunk_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    chunk_tokens: int = 64,
) -> DataFrame:
    """CCNet-style paragraph-hash deduplication, with NON-OVERLAPPING
    fixed token windows standing in for paragraphs (corpora without
    newline structure — the general case after normalization — need a
    deterministic segmentation anyway).

    Every chunk is hashed (md5 of the space-joined window, via
    :func:`architxt_spark.functions.text.chunk_documents` with
    ``overlap=0``); a chunk occurrence is KEPT iff it is the first
    occurrence of its hash in ``(id, chunk_id)`` order — exactly CCNet's
    keep-first-paragraph rule.  Returns
    ``(id_col, chunk_id, chunk_md5, n_occ, kept)``; ``n_occ`` is the
    corpus-wide occurrence count of the chunk's hash, so downstream can
    both strip duplicated chunks and compute per-document duplication
    fractions.

    Scale shape: one narrow per-doc explode (the chunker — no shuffle),
    then ONE map-combinable groupBy on ``chunk_md5`` (min-struct + count
    partially aggregate map-side) and a shuffle-hash join back on the
    hash.  No windows, no all-pairs, no driver state.
    """
    chunks = T.chunk_documents(
        df, id_col, text_col, chunk_tokens=chunk_tokens, overlap=0
    ).select(F.col(id_col).alias("id"), "chunk_id", "chunk_md5")
    firsts = chunks.groupBy("chunk_md5").agg(
        F.count("*").alias("n_occ"),
        F.min(F.struct("id", "chunk_id")).alias("__first"),
    )
    return (
        chunks.join(firsts, "chunk_md5")
        .select(
            F.col("id").alias(id_col),
            "chunk_id",
            "chunk_md5",
            "n_occ",
            (
                (F.col("id") == F.col("__first.id"))
                & (F.col("chunk_id") == F.col("__first.chunk_id"))
            ).alias("kept"),
        )
    )


def chunk_dedup_sql(
    table: str,
    text_col: str,
    id_col: str,
    *,
    chunk_tokens: int = 64,
) -> str:
    """DuckDB twin of :func:`chunk_dedup`."""
    inner = T.chunk_documents_sql(
        table, id_col, text_col, chunk_tokens=chunk_tokens, overlap=0
    )
    return f"""
        WITH __chunks AS (
            SELECT {id_col} AS id, chunk_id, chunk_md5 FROM ({inner})
        ),
        __firsts AS (
            SELECT chunk_md5, count(*) AS n_occ,
                   min(struct_pack(id := id, chunk_id := chunk_id)) AS first_occ
            FROM __chunks GROUP BY 1
        )
        SELECT c.id AS {id_col}, c.chunk_id, c.chunk_md5,
               CAST(f.n_occ AS BIGINT) AS n_occ,
               (c.id = f.first_occ.id AND c.chunk_id = f.first_occ.chunk_id) AS kept
        FROM __chunks c JOIN __firsts f USING (chunk_md5)
    """


def strip_duplicate_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    chunk_tokens: int = 64,
) -> DataFrame:
    """The TRANSFORM side of :func:`chunk_dedup`: rebuild every document
    keeping only its chunks that are the FIRST global occurrence of their
    hash, in original order — what a CCNet-style pipeline actually writes
    out after paragraph-hash dedup.

    Returns ``(id_col, clean_text, n_chunks, n_kept)`` for every input
    document (documents whose every chunk was seen earlier elsewhere keep
    an empty ``clean_text``).  The rebuilt text is the space-joined
    retrieval-token stream (lower-cased, punctuation-stripped) — the same
    normalization the chunk hashes are computed over.

    Scale shape: one narrow per-doc window explode carrying the chunk
    text, one map-combinable groupBy on the hash for the keep-first rule,
    a hash join back, and one per-doc aggregation whose chunk list is
    sorted in-row (``array_sort`` on (chunk_id, text) structs) so the
    rebuild is order-deterministic without a window.
    """
    from architxt_spark.functions.search import retrieval_tokens

    toks = retrieval_tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), toks.alias("__t"))
    # NOTE: this windowing must stay hash-identical to text.chunk_documents
    # with overlap=0 (chunk_dedup's filter side) — with zero overlap the
    # start cap reduces to len-1, so the formulas below coincide with the
    # chunker's; test_chunk_filter_and_transform_agree pins the agreement
    last_start = F.greatest(F.size("__t") - 1, F.lit(0))
    starts = F.sequence(F.lit(0), last_start, F.lit(chunk_tokens))
    chunks = (
        base.select("id", "__t", F.explode(starts).alias("__start"))
        .filter(F.col("__start") < F.size("__t"))
        .select(
            "id",
            (F.col("__start") / chunk_tokens).cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("__t"), F.col("__start") + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        )
        .withColumn("chunk_md5", F.md5("chunk_text"))
    )
    firsts = chunks.groupBy("chunk_md5").agg(
        F.min(F.struct("id", "chunk_id")).alias("__first")
    )
    # ONE per-doc aggregation over the flagged chunks: collect_list drops
    # the NULLs the when() leaves for non-first occurrences, so kept-chunk
    # assembly and the total/kept counts come out of the same pass (the
    # chunk lineage — the heaviest scan — is not re-tokenized twice)
    kept_struct = F.when(
        (F.col("id") == F.col("__first.id"))
        & (F.col("chunk_id") == F.col("__first.chunk_id")),
        F.struct("chunk_id", "chunk_text"),
    )
    per_doc = (
        chunks.join(firsts, "chunk_md5")
        .groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda st: st["chunk_text"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_chunks"),
            F.count(kept_struct).alias("n_kept"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def strip_duplicate_chunks_sql(
    table: str,
    text_col: str,
    id_col: str,
    *,
    chunk_tokens: int = 64,
) -> str:
    """DuckDB twin of :func:`strip_duplicate_chunks`."""
    from architxt_spark.functions.search import retrieval_tokens_sql

    toks = retrieval_tokens_sql(text_col)
    return f"""
        WITH __base AS (
            SELECT {id_col} AS id, {toks} AS t FROM {table}
        ),
        __chunks AS (
            SELECT id, CAST(s // {chunk_tokens} AS INT) AS chunk_id,
                   array_to_string(t[s + 1 : s + {chunk_tokens}], ' ') AS chunk_text,
                   md5(array_to_string(t[s + 1 : s + {chunk_tokens}], ' ')) AS chunk_md5
            FROM (
                SELECT id, t,
                       unnest(generate_series(0, greatest(len(t) - 1, 0), {chunk_tokens})) AS s
                FROM __base
            )
            WHERE s < len(t)
        ),
        __firsts AS (
            SELECT chunk_md5,
                   min(struct_pack(id := id, chunk_id := chunk_id)) AS first_occ
            FROM __chunks GROUP BY 1
        ),
        __kept AS (
            SELECT c.id,
                   string_agg(c.chunk_text, ' ' ORDER BY c.chunk_id) AS clean_text,
                   count(*) AS n_kept
            FROM __chunks c JOIN __firsts f USING (chunk_md5)
            WHERE c.id = f.first_occ.id AND c.chunk_id = f.first_occ.chunk_id
            GROUP BY 1
        ),
        __totals AS (
            SELECT id, count(*) AS n_chunks FROM __chunks GROUP BY 1
        )
        SELECT b.id AS {id_col},
               coalesce(k.clean_text, '') AS clean_text,
               CAST(coalesce(t.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
        FROM __base b
        LEFT JOIN __totals t USING (id)
        LEFT JOIN __kept k USING (id)
    """


# ---------------------------------------------------------------------------
# LSH parameter planning
# ---------------------------------------------------------------------------


def lsh_collision_probability(s: float, bands: int, rows: int) -> float:
    """P(candidate pair | true Jaccard s) for banded minhash:
    ``1 − (1 − s^rows)^bands`` (MMDS ch.3).  Monotone increasing in s —
    the S-curve whose inflection the planner positions."""
    return 1.0 - (1.0 - s**rows) ** bands


def lsh_plan(threshold: float, n_perm: int = MINHASH_K) -> dict:
    """Choose ``(bands, rows)`` for a banded-minhash index targeting a
    Jaccard ``threshold``: over divisor pairs ``bands·rows = n_perm``,
    pick the pair whose S-curve inflection ``(1/bands)^(1/rows)`` lands
    nearest the threshold.  Returns bands/rows, the inflection point, and
    the candidate-recall at the threshold — the numbers to check before
    re-indexing a 100-TB corpus (more bands ⇒ more recall AND more index
    rows/shuffle volume; fewer bands ⇒ cheaper but leaky near the
    threshold).

    The library default (``n_perm=16``, band size 4 ⇒ 4 bands) has its
    inflection at ``(1/4)^(1/4) ≈ 0.707`` — tuned for the ≥0.5 near-dup
    regime `dedup_filter` ships with."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if n_perm < 2:
        raise ValueError("n_perm must be ≥ 2")
    best = None
    for rows in range(1, n_perm + 1):
        if n_perm % rows:
            continue
        bands = n_perm // rows
        inflection = (1.0 / bands) ** (1.0 / rows)
        cand = {
            "bands": bands,
            "rows": rows,
            "inflection": inflection,
            "p_at_threshold": lsh_collision_probability(threshold, bands, rows),
        }
        if best is None or abs(inflection - threshold) < abs(best["inflection"] - threshold):
            best = cand
    return best
