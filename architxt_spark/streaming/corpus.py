"""Streaming corpus ingestion — the Spark EXTENSION of the batch loaders
(SURVEY §2.8: the reference's ingestion is async-pipelined batch;
Structured Streaming makes the same pipelines incremental).

Because every loader transform in this engine is a plain DataFrame
transform (zero driver-side loops), they run unchanged on ``readStream``
inputs:

- :func:`read_document_stream` — file-source stream of document rows;
- :func:`stream_exact_dedup` — incremental exact deduplication:
  content-fingerprint + ``dropDuplicates`` with a watermark bounds the
  dedup state (the streaming twin of ``dedup.exact_duplicates``);
- :func:`stream_row_trees` — the ``row_trees`` node emission applied to a
  stream (stateless explode ⇒ append-mode safe): incremental forest
  ingestion into a node table / TreeBucket.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from architxt_spark.functions import text as T
from architxt_spark.session import held, stage_barrier


def read_document_stream(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """File-source stream over a documents directory."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def stream_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    *,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """First-seen document per content fingerprint.  With ``ts_col`` the
    dedup state is watermark-bounded (drops state for fingerprints older
    than the watermark — the only way unbounded streams stay O(window));
    without it, state grows with distinct content (batch-like semantics).
    """
    with_fp = stream.withColumn("fingerprint", T.fingerprint(F.col(text_col)))
    if ts_col is not None:
        return with_fp.withWatermark(ts_col, watermark).dropDuplicates(
            ["fingerprint", ts_col]
        )
    return with_fp.dropDuplicates(["fingerprint"])


def minhash_dedup_batch(
    batch: DataFrame,
    index_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    write_output=None,
    bloom_bits: int | None = None,
    bloom_hashes: int = 4,
    bloom_override: bool = False,
) -> DataFrame:
    """One micro-batch of incremental NEAR-dup filtering against a
    persistent LSH band index.

    ``bloom_bits`` enables the BOUNDED-STATE tier for long-running
    ingests: the history probe consults a Bloom bitmap of every indexed
    band (``{index_path}_bloom``, ``bit_or``-merged words — state
    ≤ ``bloom_bits/63`` longs regardless of corpus age) instead of
    scanning the parquet index, so per-batch cost is genuinely
    independent of history size (``tools/streambench.py``: the exact
    probe's map-side index scan grows with the index — 2.7 → ~6 s/batch
    by 2M indexed docs — while the bloom tier stays flat).  The parquet
    index is still appended (the audit/rebuild source); the price is
    the Bloom false-positive rate — a fresh document can be
    (deterministically) dropped as a presumed near-dup, the same
    bounded-state trade :func:`url_seen_batch` makes, sized by
    ``bloom_bits`` against expected band cardinality.

    1. MinHash-band the batch documents (same signature pipeline as
       ``dedup.minhash_lsh_pairs``);
    2. drop documents sharing any band with the INDEX (near-dup of an
       already-kept document) — a semi-join on the band key;
    3. within the batch, greedy keep-the-min-id per colliding pair (the
       batch twin of ``dedup.dedup_filter``);
    4. call ``write_output(survivors)`` — the caller's durable output
       append — and only THEN append the survivors' bands to the index.

    Returns the surviving rows of ``batch``.  The index is a plain parquet
    directory of band keys: at scale it is the only state, it is
    append-only (blind write, no merge), and the per-batch work is two
    shuffles on the band key — independent of corpus history size thanks
    to the semi-join pushdown on the (bucketable) band column.

    Crash-ordering contract: the OUTPUT append must land before the INDEX
    append (hence the ``write_output`` seam rather than letting callers
    write after this returns).  A crash between the two then replays the
    batch against the pre-batch index and at worst re-emits the same
    survivors (duplicate output rows, fixable by downstream exact dedup);
    the reverse order would let the replay see its OWN bands in the index
    and drop every document of the batch — permanent loss.
    """
    from architxt_spark.functions.dedup import _signature_frame, _spread, minhash_bands
    from architxt_spark.session import read_parquet_if_exists

    spark = batch.sparkSession
    # barrier the micro-batch once: the signature pipeline AND the final
    # survivor semi-join both read it, and upstream gate predicates
    # (interpreted higher-order chains) must not run twice.  Micro-batches
    # are bounded, so the executor-local checkpoint is small by contract.
    batch = stage_barrier(_spread(batch))
    # the EXPLODED-ROW signature pipeline (the same one the batch banded
    # operators share): shingles explode to rows so the md5/permutation
    # math runs row-wise in whole-stage codegen, and the 16 minima are one
    # map-combinable groupBy.  The interpreted higher-order form
    # (per-element transform + array_min chains) benched 16 s per
    # micro-batch at sf0.1 against ~3 s for this shape; `_spread` inside
    # the pipeline re-partitions the (typically single-file,
    # single-partition) micro-batch so hashing parallelizes.
    bands = _signature_frame(batch, text_col, id_col).select(
        "id", F.explode(minhash_bands(F.col("sig"))).alias("band")
    )
    with held(bands):
        bands.count()  # eager: fold the gated-batch lineage into the cache once
        hit_hist = None
        if bloom_bits is not None:
            # bounded-state tier: the history is the bit_or-merged Bloom
            # bitmap (≤ bloom_bits/63 words no matter the corpus age);
            # the probe is pure codegen column ops against a literal map
            from architxt_spark.functions.sketch import (
                bloom_probe_join,
                check_bloom_saturation,
            )

            bloom_raw = read_parquet_if_exists(spark, f"{index_path}_bloom")
            if bloom_raw is not None:
                bloom = bloom_raw.groupBy("word_idx").agg(
                    F.expr("bit_or(bits)").alias("bits")
                )
                # saturation guard (r11.5 rehearsal: an under-sized bitmap
                # silently kept ~280/2000 fresh docs) — one agg over
                # ≤ bloom_bits/63 words, BEFORE the batch gets probed
                check_bloom_saturation(
                    bloom,
                    n_bits=bloom_bits,
                    n_hashes=bloom_hashes,
                    override=bloom_override,
                    context=f"near-dup band bloom at {index_path}_bloom",
                )
                hit_hist = (
                    bloom_probe_join(
                        bands.select("id", "band"), bloom, "band",
                        n_bits=bloom_bits, n_hashes=bloom_hashes,
                    )
                    .filter(F.col("maybe_member"))
                    .select("id")
                    .distinct()
                )
        else:
            # exact tier: probe the parquet index with a BROADCAST of
            # the batch's (bounded) band set — one map-side columnar
            # scan, no history shuffle.  (The previous shape ran
            # distinct() over the whole index per batch — a full history
            # re-shuffle every micro-batch; streambench measured it at
            # 5.5 s vs 1.9 s for the broadcast probe by 2M indexed
            # docs.)  The scan itself still grows with the index — the
            # bloom tier above is the genuinely history-independent
            # regime for long-running ingests.
            hist_raw = read_parquet_if_exists(spark, index_path)
            if hist_raw is not None:
                batch_bands = bands.select("band").distinct()
                hit_bands = (
                    hist_raw.join(F.broadcast(batch_bands), "band", "left_semi")
                    .select("band")
                    .distinct()
                )
                hit_hist = (
                    bands.join(F.broadcast(hit_bands), "band", "left_semi")
                    .select("id")
                    .distinct()
                )

        survivors = bands.select("id").distinct()
        if hit_hist is not None:
            survivors = survivors.join(hit_hist, "id", "left_anti")

        # within-batch collisions: drop every id that shares a band with
        # any smaller id.  Computed via ONE band-min aggregation instead
        # of a band self-join: x is a loser iff x > min(id) of some band
        # it occupies — identical result, but a hot band of M
        # near-identical docs costs O(M) aggregation rows, not M²/2 join
        # rows (the streaming twin of the batch hot-band cap).
        kept_bands = bands.join(survivors, "id")
        band_min = kept_bands.groupBy("band").agg(F.min("id").alias("__min_id"))
        losers = (
            kept_bands.join(band_min, "band")
            .filter(F.col("id") > F.col("__min_id"))
            .select("id")
            .distinct()
        )
        # materialize the (small) survivor id set so the index write and the
        # returned frame don't re-run the signature pipeline once bands is released
        survivors = survivors.join(losers, "id", "left_anti").transform(stage_barrier)

        kept = batch.join(
            survivors.select(F.col("id").alias(id_col)), id_col, "left_semi"
        )
        if write_output is not None:
            # durable output FIRST (see crash-ordering contract above);
            # barrier so the caller's write and the return don't re-run
            # the semi-join twice
            kept = stage_barrier(kept)
            write_output(kept)
        new_bands = bands.join(survivors, "id")
        new_bands.select("band", "id").write.mode("append").parquet(index_path)
        if bloom_bits is not None:
            from architxt_spark.functions.sketch import bloom_build

            bloom_build(
                new_bands, "band", n_bits=bloom_bits, n_hashes=bloom_hashes
            ).write.mode("append").parquet(f"{index_path}_bloom")
        return kept


def stream_minhash_dedup(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming near-duplicate filter: ``foreachBatch`` applies
    :func:`minhash_dedup_batch` per micro-batch and appends survivors to
    ``out_path``.  The recovery contract is checkpoint replay +
    output-before-index append ordering: a replayed batch re-filters
    against the same pre-batch index and at worst re-appends the same
    survivors (duplicates, never loss).  Returns the started query."""

    def run(batch: DataFrame, _epoch: int) -> None:
        minhash_dedup_batch(
            batch,
            index_path,
            text_col=text_col,
            id_col=id_col,
            write_output=lambda kept: kept.write.mode("append").parquet(out_path),
        )

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_curate(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_clean: bool = False,
    decontaminate_path: str | None = None,
    decontam_threshold: float = 0.5,
    mixture_col: str | None = None,
    mixture_thresholds: Mapping[str, int] | None = None,
    mixture_salt: str = "",
):
    """Streaming corpus CURATION: per micro-batch, the Gopher quality
    gate prunes junk BEFORE any shuffle (gated rows never reach the
    minhash index), then :func:`minhash_dedup_batch` filters against the
    persistent cross-batch band index; survivors append to ``out_path``.
    The ingestion-time twin of :func:`~architxt_spark.functions.curation.
    curate_corpus`'s gate→dedup prefix — the shape a live crawl firehose
    runs instead of nightly batch jobs.  ``line_clean=True`` prepends the
    C4 line filter + page gate (newline-structured web pages), matching
    the batch chain's option.

    ``decontaminate_path`` (a parquet of benchmark/eval documents with
    the same ``id_col``/``text_col``) adds eval-set decontamination
    BETWEEN the gate and the dedup index — deliberately earlier than the
    batch recipe's post-dedup placement: in a streaming ingester a
    contaminated document must never ship AND never seed the persistent
    band index, or it would keep suppressing clean near-dups of itself
    forever after.  The benchmark side is eval-set-sized (broadcast
    band join, :func:`~architxt_spark.functions.dedup.
    decontaminate_filter`); at real scale pre-sign the benchmark once
    and cache it — re-deriving per micro-batch costs one small scan.

    ``mixture_col`` + ``mixture_thresholds`` add the STREAMING form of
    the token-budget mixture (derive the fixed per-stratum hash-key
    thresholds up front with :func:`~architxt_spark.functions.sampling.
    mixture_token_thresholds`; the exact-budget take is batch-only —
    see that function's contract).  The gate applies to what SHIPS, not
    to what seeds the band index: in the batch recipe dedup sees the
    whole corpus before sampling, so a sampled-out document here still
    registers its bands — its near-dups stay suppressed, exactly as if
    the batch chain had run.  Strata missing from the thresholds drop
    (the batch take's semantics)."""

    def run(batch: DataFrame, _epoch: int) -> None:
        from architxt_spark.functions.dedup import _spread

        # micro-batches arrive as one partition per triggered file — spread
        # BEFORE the (interpreted-higher-order) gate predicates so they run
        # 32-way, not single-threaded (the same rule as curate_corpus)
        batch = _spread(batch)
        if line_clean:
            cleaned = T.c4_clean(F.col(text_col))
            batch = (
                batch.withColumn("__c4_clean", cleaned)
                .filter(T.c4_keep(F.col(text_col), F.col("__c4_clean")))
                .withColumn(text_col, F.col("__c4_clean"))
                .drop("__c4_clean")
            )
        gated = batch.filter(T.gopher_keep(F.col(text_col)))
        if decontaminate_path is not None:
            from architxt_spark.functions.dedup import decontaminate_filter

            bench = batch.sparkSession.read.parquet(decontaminate_path)
            gated = decontaminate_filter(
                gated, bench, text_col, id_col, threshold=decontam_threshold
            )
        ship = lambda kept: kept  # noqa: E731
        if mixture_col is not None and mixture_thresholds is not None:
            from architxt_spark.functions.sampling import (
                _threshold_expr,
                sample_key,
            )

            keep = sample_key(F.col(id_col), mixture_salt) < _threshold_expr(
                F.col(mixture_col), dict(mixture_thresholds), 0
            )
            ship = lambda kept: kept.filter(keep)  # noqa: E731
        minhash_dedup_batch(
            gated,
            index_path,
            text_col=text_col,
            id_col=id_col,
            write_output=lambda kept: ship(kept).write.mode("append").parquet(out_path),
        )

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_row_trees(stream: DataFrame, table_name: str, id_cols: list[str]) -> DataFrame:
    """Incremental node emission: the batch ``row_trees`` transform applied
    to a stream — stateless (select + explode), so it runs in append mode
    and feeds a node-table sink directly."""
    from architxt_spark.sources.documents import row_trees

    return row_trees(stream, table_name, id_cols)


def stream_fm_distinct(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    *,
    text_col: str = "text",
    m: int = 256,
):
    """Incremental corpus-vocabulary cardinality: each micro-batch
    appends its Flajolet–Martin bucket bitmaps
    (:func:`architxt_spark.functions.sketch.fm_bitmaps` over the batch's
    tokens) to an append-only parquet state; the live estimate is
    :func:`~architxt_spark.functions.sketch.fm_estimate` over that state,
    which ``bit_or``-merges all appended rows per bucket.

    Exactly-once comes FREE from algebra, not bookkeeping: ``bit_or`` is
    idempotent and commutative, so a replayed batch re-appending its
    bitmaps cannot change the merged state — the strongest possible
    streaming-state story (contrast minhash dedup, which relies on
    checkpoint + append idempotence).  The state is ≤ m rows per batch,
    independent of batch size.  Returns the started query.
    """
    from architxt_spark.functions.sketch import fm_bitmaps

    def run(batch: DataFrame, _epoch: int) -> None:
        toks = batch.select(F.explode(T.tokens(F.col(text_col))).alias("tok"))
        fm_bitmaps(toks, "tok", m=m).write.mode("append").parquet(state_path)

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def url_seen_batch(
    batch: DataFrame,
    bloom_path: str,
    *,
    url_col: str = "url",
    n_bits: int = 1 << 22,
    n_hashes: int = 4,
    write_output=None,
    bloom_override: bool = False,
) -> DataFrame:
    """One micro-batch of BOUNDED-STATE URL dedup for a crawl frontier:
    drop rows whose URL the persistent Bloom bitmap has (probably) seen,
    then fold the survivors' URLs into the bitmap.  ``write_output``
    (the caller's durable output append) runs BEFORE the bitmap append —
    same crash-ordering contract as :func:`minhash_dedup_batch`: a replay
    then re-emits duplicates instead of dropping the whole batch as
    already-seen.

    The state is ``n_bits/63`` longs TOTAL — independent of how many
    URLs have ever streamed past (the exact-index approaches keep one
    row per document forever; a frontier seeing 10^11 URLs cannot).  The
    price is the Bloom false-positive rate: a never-seen URL can be
    (deterministically) dropped — the standard frontier trade, sized by
    ``n_bits``/``n_hashes`` against expected cardinality.  The bitmap
    update is the ``bit_or`` monoid, so the state write is one bounded
    groupBy; everything is engine-reproducible md5 hashing
    (`functions/sketch.py` bloom_build/bloom_probe).
    """
    from architxt_spark.functions.dedup import _spread
    from architxt_spark.functions.sketch import (
        bloom_build,
        bloom_probe,
        check_bloom_saturation,
    )
    from architxt_spark.session import read_parquet_if_exists

    spark = batch.sparkSession
    batch = stage_barrier(_spread(batch))
    seen_raw = read_parquet_if_exists(spark, bloom_path)
    seen = (
        seen_raw.groupBy("word_idx").agg(F.expr("bit_or(bits)").alias("bits"))
        if seen_raw is not None
        else None  # first batch: no bitmap yet
    )
    if seen is not None:
        # refuse/warn BEFORE probing: a saturated frontier bitmap drops
        # never-seen URLs silently (sketch.check_bloom_saturation)
        check_bloom_saturation(
            seen,
            n_bits=n_bits,
            n_hashes=n_hashes,
            override=bloom_override,
            context=f"URL-seen bloom at {bloom_path}",
        )
        probed = bloom_probe(
            batch, seen, url_col, n_bits=n_bits, n_hashes=n_hashes
        )
        kept = probed.filter(~F.coalesce(F.col("maybe_member"), F.lit(True))).drop(
            "maybe_member"
        )
    else:
        kept = batch.filter(F.col(url_col).isNotNull())
    # also collapse within-batch duplicates (the bitmap only knows about
    # PRIOR batches): keep ONE deterministic row per URL — the
    # lexicographic struct-min over the remaining columns (dropDuplicates
    # keeps whichever task finishes first; retries would flap)
    other = [c for c in kept.columns if c != url_col]
    if other:
        kept = (
            kept.groupBy(url_col)
            .agg(F.min(F.struct(*other)).alias("__r"))
            .select(url_col, *[F.col(f"__r.{c}").alias(c) for c in other])
            .select(*kept.columns)
        )
    else:
        kept = kept.distinct()
    kept = stage_barrier(kept)
    if write_output is not None:
        write_output(kept)  # durable output before the bitmap append
    bloom_build(kept, url_col, n_bits=n_bits, n_hashes=n_hashes).write.mode(
        "append"
    ).parquet(bloom_path)
    return kept


def stream_url_seen(
    stream: DataFrame,
    bloom_path: str,
    out_path: str,
    checkpoint_path: str,
    *,
    url_col: str = "url",
    n_bits: int = 1 << 22,
    n_hashes: int = 4,
):
    """Streaming crawl-frontier URL dedup: per micro-batch
    :func:`url_seen_batch` against the persistent Bloom bitmap; first
    sightings append to ``out_path``.  State stays ``n_bits/63`` longs
    no matter how long the stream runs."""

    def run(batch: DataFrame, _epoch: int) -> None:
        url_seen_batch(
            batch,
            bloom_path,
            url_col=url_col,
            n_bits=n_bits,
            n_hashes=n_hashes,
            write_output=lambda kept: kept.write.mode("append").parquet(out_path),
        )

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
