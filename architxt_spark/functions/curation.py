"""End-to-end corpus curation pipeline: the integration operator that
chains the hygiene, dedup, and data-selection primitives the way a real
pretraining-data run does — quality-gate first (cheap per-row flags prune
the junk before anything pays a shuffle), exact + near-duplicate removal
on the survivors, then (optionally) an exact mixture take over a strata
column and concat-and-chunk sequence packing: the full chain a 100-TB
run actually ships.

Scale shape follows from the parts: the Gopher quality gate is a pure
scan filter (no shuffle — junk never reaches the dedup index),
``dedup_filter`` is one fingerprint groupBy + the banded minhash index
on the REDUCED corpus (near-dup pass over exact representatives only),
``mixture_take`` is a hash-threshold pre-filter + bounded per-stratum
window, and ``pack_sequences`` windows per hash bucket, never globally.
Stage ordering matters at 100 TB: the quality gate typically drops
30–60% of a web crawl, and every dropped row is a row the minhash
shuffle never carries; sampling before packing means the pack layout is
computed only for rows that ship.

Cross-engine determinism: every stage reuses an existing twin-tested
primitive (`text.gopher_keep`, `dedup.dedup_filter`,
`sampling.mixture_take`, `sampling.pack_sequences`), so the census
counts replay exactly in DuckDB.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from architxt_spark.functions import text as T
from architxt_spark.functions.dedup import _spread, dedup_filter, dedup_filter_sql
from architxt_spark.session import stage_barrier


def curate_corpus(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_threshold: float = 0.5,
    line_clean: bool = False,
    domain_col: str | None = None,
    domain_blocklist: tuple[str, ...] = (),
    domain_max_dup_fraction: float = 0.5,
    decontaminate_against: DataFrame | None = None,
    decontam_threshold: float = 0.5,
    ppl_drop_tail: bool = False,
    ppl_train_docs: DataFrame | None = None,
    quality_model_pos: DataFrame | None = None,
    quality_model_neg: DataFrame | None = None,
    quality_model_bigrams: bool = False,
    quality_model_weights: DataFrame | None = None,
    mixture_col: str | None = None,
    mixture_counts: Mapping[str, int] | None = None,
    mixture_total: int | None = None,
    mixture_strata: list[str] | None = None,
    mixture_alpha: float = 0.5,
    mixture_token_budgets: Mapping[str, int] | None = None,
    mixture_token_col: str | None = None,
    pack_token_col: str | None = None,
    pack_budget: int = 4096,
    pack_buckets: int = 8,
    unicode_clean: bool = False,
    split_map: Mapping[str, float] | None = None,
    salt: str = "",
) -> tuple[DataFrame, DataFrame]:
    """Run the curation chain; returns ``(kept_docs, census)``.

    ``census`` is ``(stage, n_docs)`` for stages ``input`` [→ ``clean``]
    → ``quality`` [→ ``domain``] → ``dedup`` [→ ``decontam``] [→ ``ppl``]
    [→ ``classifier``] [→ ``sample``] [→ ``pack``] — the full published
    recipe (C4/CCNet/Gopher line+row gates, domain screening, near-dedup,
    eval-set decontamination, LM-quality tail drop — trained on
    ``ppl_train_docs`` when given, CCNet's clean-reference form —
    a fastText-style classifier gate trained on the
    ``quality_model_pos``/``quality_model_neg`` seed frames, mixture,
    packing)
    as ONE operator; each count is the survivors
    AFTER that stage, except ``pack`` whose count is the number of
    fixed-budget training SEQUENCES produced (packing transforms, it
    does not filter).  ``kept_docs`` is the original schema filtered to
    the final survivor set, plus the pack layout columns when packing is
    on.

    ``line_clean=True`` prepends the C4 line-level web-cleaning stage
    (:func:`~architxt_spark.functions.text.c4_clean`): boilerplate lines
    are stripped from ``text_col`` and pages failing the C4 gate are
    dropped BEFORE the quality gate, so nav-menu/cookie-notice lines
    never reach the shingle index (census row ``clean``).  Off by
    default — it assumes newline-structured web pages; single-line
    corpora would gate everything out.

    ``mixture_col``+``mixture_total``+``mixture_strata`` derive the
    per-stratum take counts INTERNALLY by temperature-scaled
    water-filling over the post-dedup stratum sizes
    (:func:`~architxt_spark.functions.sampling.temperature_counts`,
    probability ∝ size^``mixture_alpha``) — "give me N documents at
    temperature α", the self-contained form a pretraining run asks for.
    Alternatively ``mixture_col``+``mixture_counts`` enable the exact per-stratum
    mixture take after dedup (compose with
    :func:`~architxt_spark.functions.sampling.temperature_counts` or
    :func:`~architxt_spark.functions.sampling.proportional_counts` to
    derive the counts), and ``mixture_col``+``mixture_token_budgets``
    select by TOKEN budget instead of document count
    (:func:`~architxt_spark.functions.sampling.mixture_take_tokens`;
    token column = ``mixture_token_col`` or ``pack_token_col`` or
    ``n_chars``) — the form published data recipes are specified in;
    ``pack_token_col`` enables concat-and-chunk sequence packing of the
    sampled survivors.

    ``unicode_clean=True`` prepends the Unicode hygiene pass
    (:func:`~architxt_spark.functions.text.clean_unicode`: NFC +
    control strip + punct standardization) BEFORE any fingerprinting,
    so composed/decomposed copies dedup together; a pure transform —
    no census row.  ``split_map`` appends a leakage-safe deterministic
    ``split`` column (:func:`~architxt_spark.functions.sampling.hash_split`)
    to the final survivors; when packing is also on, sequences are
    packed PER SPLIT (split-salted) so no training sequence ever mixes
    eval and train documents."""
    # Validate the mixture parameter combination UP FRONT — before any
    # Spark job runs (temperature_counts collects stratum sizes, so a
    # late check would burn cluster work before raising).
    if mixture_token_budgets is not None:
        if mixture_col is None:
            raise ValueError("mixture_token_budgets requires mixture_col")
        if mixture_counts is not None or mixture_total is not None:
            raise ValueError(
                "mixture_counts/mixture_total and mixture_token_budgets "
                "are mutually exclusive"
            )
    if mixture_total is not None and mixture_col is not None and mixture_strata is None:
        raise ValueError("mixture_total requires mixture_strata")
    if quality_model_weights is not None and quality_model_pos is not None:
        raise ValueError(
            "quality_model_weights and quality_model_pos/neg are mutually "
            "exclusive (pass seed frames to train, or a trained model)"
        )
    # the fused classifier gate appends this column to the quality
    # checkpoint; an input column of the same name would make it ambiguous
    if "__cls_keep" in docs.columns:
        raise ValueError(
            "curate_corpus: input column '__cls_keep' clashes with the "
            "internal classifier-gate column; rename it first"
        )
    # materialize the gate's survivors ONCE: the census, the fingerprint
    # pass, and the minhash index all read this frame, and re-evaluating
    # the (shingle-heavy) quality predicate per consumer benched 33 s vs
    # ~3 s at sf0.1.  At cluster scale this is the stage boundary a real
    # pipeline writes to storage anyway.
    # materialize the spread layout BEFORE filtering: Catalyst pushes the
    # filter below a repartition exchange, so without the barrier the
    # (shingle-heavy) predicate runs on the single-partition file scan —
    # 12 s single-task vs sub-second 32-way at sf0.1
    pre = _spread(docs)
    if unicode_clean:
        from architxt_spark.functions.text import clean_unicode

        pre = clean_unicode(pre, text_col)
    spread = stage_barrier(pre)
    base = spread
    clean_frame = None
    if line_clean:
        cleaned_text = T.c4_clean(F.col(text_col))
        staged = spread.withColumn("__c4_clean", cleaned_text)
        clean_frame = stage_barrier(
            staged.filter(T.c4_keep(F.col(text_col), F.col("__c4_clean")))
            .withColumn(text_col, F.col("__c4_clean"))
            .drop("__c4_clean")
        )
        base = clean_frame
    # Fused classifier gate (r15): the model is n_buckets-bounded, so its
    # margin is ONE scalar fold against an indexed weight-array literal
    # (classifier_margin_expr) and rides the quality scan as a column —
    # the later classifier stage becomes a column filter on checkpointed
    # data instead of its own corpus pass (scan + feature shuffle +
    # semi-join + payload re-materialization).  Exact-equivalent margins
    # (same integer sum of per-occurrence bucket weights).
    if quality_model_neg is not None and quality_model_pos is None:
        raise ValueError("quality_model_neg requires quality_model_pos")
    if quality_model_pos is not None and quality_model_neg is None:
        raise ValueError("quality_model_pos requires quality_model_neg")
    cls_gate = None
    if quality_model_pos is not None or quality_model_weights is not None:
        from architxt_spark.functions.classifier import (
            classifier_margin_expr,
            train_quality_classifier,
        )

        weights = (
            quality_model_weights
            if quality_model_weights is not None
            else train_quality_classifier(
                quality_model_pos,
                quality_model_neg,
                id_col=id_col,
                text_col=text_col,
                bigrams=quality_model_bigrams,
            )
        )
        # the weight frame is driver-local and bounded (≤ n_buckets rows)
        cls_gate = (
            classifier_margin_expr(
                F.col(text_col), weights.collect(), bigrams=quality_model_bigrams
            )
            > 0
        ).alias("__cls_keep")

    quality = base.filter(T.gopher_keep(F.col(text_col)))
    if cls_gate is not None:
        quality = quality.select(*[F.col(c) for c in base.columns], cls_gate)
    quality = stage_barrier(quality)
    domain_frame = None
    if domain_col is not None:
        # domain screen AFTER the row gate (the profile aggregates only
        # gated rows) and BEFORE dedup (mirror/spam domains never reach
        # the minhash index) — one domain-bounded broadcast anti-join
        from architxt_spark.functions.domains import domain_screen

        domain_frame = stage_barrier(
            domain_screen(
                quality,
                domain_col=domain_col,
                text_col=text_col,
                id_col=id_col,
                blocklist=domain_blocklist,
                max_dup_fraction=domain_max_dup_fraction,
            )
        )
    dedup_in = domain_frame if domain_frame is not None else quality
    # receive the dedup pass's minhash-signature frame: the decontamination
    # stage below needs signatures for a SUBSET of the same ids (survivors),
    # and signatures depend only on the text — reusing the frame removes a
    # second full corpus scan + shingle-hash pass per pipeline run
    sig_out: list = []
    keep_ids = dedup_filter(
        dedup_in, text_col, id_col,
        near_threshold=near_threshold, signatures_out=sig_out,
    )
    # barrier the survivor frame: the census row, the mixture stage's
    # internal threshold collects, and the returned frame would each
    # re-run the whole minhash dedup chain otherwise (measured ~11 s →
    # ~6 s at sf0.1 with sampling+packing on).  The payload comes from
    # the QUALITY checkpoint (keep_ids ⊆ quality ids, so the rows are
    # identical to the former base-side join) — a smaller scan, and it
    # carries the fused classifier column.
    kept = stage_barrier(
        quality.join(keep_ids.select(F.col("id").alias(id_col)), id_col, "left_semi")
    )

    def stage(name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(name).alias("stage"), F.count("*").cast("long").alias("n_docs")
        )

    census = stage("input", docs)
    if clean_frame is not None:
        census = census.unionByName(stage("clean", clean_frame))
    census = census.unionByName(stage("quality", quality))
    if domain_frame is not None:
        census = census.unionByName(stage("domain", domain_frame))
    census = census.unionByName(stage("dedup", kept))

    if decontaminate_against is not None:
        # eval-set decontamination over the DEDUPED survivors (the
        # benchmark band index broadcasts; corpus scanned once).  Only
        # the SMALL drop-id set is barriered (r15) — the anti-join stays
        # lazy over the survivor checkpoint, so the stage no longer
        # re-materializes the full payload just to record itself;
        # downstream consumers pay one broadcast anti-join per scan.
        from architxt_spark.functions.dedup import decontaminate_drop_ids

        # the dedup survivors' signatures, cut to exactly the kept ids so
        # minhash_cross_pairs' corpus/signature contract stays 1:1
        kept_sigs = sig_out[0].join(
            kept.select(F.col(id_col).alias("id")), "id", "left_semi"
        )
        drop_ids = stage_barrier(
            decontaminate_drop_ids(
                kept,
                decontaminate_against,
                text_col,
                id_col,
                threshold=decontam_threshold,
                corpus_signatures=kept_sigs,
            )
        )
        kept = kept.join(drop_ids, id_col, "left_anti")
        census = census.unionByName(stage("decontam", kept))

    if ppl_drop_tail:
        # CCNet-style model-quality stage: bigram LM trained on
        # ``ppl_train_docs`` when given (the published CCNet recipe — a
        # clean reference corpus, e.g. Wikipedia), else self-trained on
        # the survivors; drop the highest-perplexity third (bucket
        # thresholds are histogram-exact, so the cut replays across
        # engines)
        from architxt_spark.functions.lm import ppl_buckets

        # only the SMALL tail-id set is barriered (r15, same trade as the
        # decontam stage): the anti-join stays lazy over the survivor
        # checkpoint instead of re-materializing the full payload
        tail = stage_barrier(
            ppl_buckets(
                kept, id_col=id_col, text_col=text_col, train_docs=ppl_train_docs
            )
            .filter(F.col("bucket") == "tail")
            .select(id_col)
        )
        kept = kept.join(tail, id_col, "left_anti")
        census = census.unionByName(stage("ppl", kept))

    if cls_gate is not None:
        # fastText-style model-quality stage (the LLaMA-recipe
        # "classifier" pass), FUSED (r15): the margin was computed on the
        # quality scan and checkpointed as ``__cls_keep``, so the stage is
        # a column filter over already-materialized data — no scan, no
        # feature shuffle, no semi-join, no payload re-materialization.
        # Cheap enough that downstream consumers (census count, mixture
        # threshold collects) re-evaluate it against the checkpoint
        # instead of paying another barrier.
        kept = kept.filter(F.col("__cls_keep")).drop("__cls_keep")
        census = census.unionByName(stage("classifier", kept))

    if mixture_col is not None and mixture_counts is None and mixture_total is not None:
        from architxt_spark.functions.sampling import temperature_counts

        if mixture_strata is None:
            raise ValueError("mixture_total requires mixture_strata")
        mixture_counts = temperature_counts(
            kept, mixture_col, mixture_strata, mixture_total, alpha=mixture_alpha
        )
    if mixture_col is not None and mixture_token_budgets is not None:
        # token-budget form — how published mixes are specified ("N
        # tokens of en"); mutually exclusive with the count form
        # (validated up front, before any job ran)
        from architxt_spark.functions.sampling import mixture_take_tokens

        kept = stage_barrier(
            mixture_take_tokens(
                kept, mixture_col, mixture_token_budgets, id_col,
                mixture_token_col or pack_token_col or "n_chars", salt=salt,
            )
        )
        census = census.unionByName(stage("sample", kept))
    elif mixture_col is not None and mixture_counts is not None:
        from architxt_spark.functions.sampling import mixture_take

        kept = stage_barrier(
            mixture_take(kept, mixture_col, mixture_counts, id_col, salt=salt)
        )
        census = census.unionByName(stage("sample", kept))

    if split_map is not None:
        from architxt_spark.functions.sampling import hash_split

        kept = hash_split(kept, id_col, split_map, salt=salt)

    if pack_token_col is not None:
        from architxt_spark.functions.sampling import pack_sequences

        if split_map is not None:
            from functools import reduce

            kept = reduce(
                lambda a, b: a.unionByName(b),
                (
                    pack_sequences(
                        kept.filter(F.col("split") == name),
                        id_col,
                        pack_token_col,
                        pack_budget,
                        n_buckets=pack_buckets,
                        salt=f"{salt}|{name}",
                    )
                    for name in split_map
                ),
            )
            seq_cols = ["split", "pack_bucket", "pack_seq"]
        else:
            kept = pack_sequences(
                kept, id_col, pack_token_col, pack_budget,
                n_buckets=pack_buckets, salt=salt,
            )
            seq_cols = ["pack_bucket", "pack_seq"]
        n_seqs = (
            kept.select(*seq_cols)
            .distinct()
            .agg(F.lit("pack").alias("stage"), F.count("*").cast("long").alias("n_docs"))
        )
        census = census.unionByName(n_seqs)

    return kept, census


def curation_census_sql(
    table: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_threshold: float = 0.5,
    line_clean: bool = False,
    domain_col: str | None = None,
    domain_blocklist: tuple[str, ...] = (),
    domain_max_dup_fraction: float = 0.5,
    decontam_bench_table: str | None = None,
    decontam_threshold: float = 0.5,
    ppl_drop_tail: bool = False,
    ppl_train_table: str | None = None,
    quality_pos_src: str | None = None,
    quality_neg_src: str | None = None,
    quality_model_bigrams: bool = False,
    mixture_col: str | None = None,
    mixture_counts: Mapping[str, int] | None = None,
    mixture_total: int | None = None,
    mixture_strata: list[str] | None = None,
    mixture_alpha: float = 0.5,
    pack_token_col: str | None = None,
    pack_budget: int = 4096,
    pack_buckets: int = 8,
    salt: str = "",
    final_select: str | None = None,
) -> str:
    """DuckDB replay of the census: the same gate predicate, dedup
    keep-set, mixture take, and pack layout.

    ``final_select`` swaps the census UNION for a caller-supplied final
    statement over the same CTE chain — ``{kept}`` interpolates the name
    of the last survivor CTE (e.g. ``"SELECT * FROM {kept}"`` yields the
    kept-document frame itself, the form composite oracles need to
    replay a downstream sink over the identical keep-set).

    Each stage is hoisted into a ``MATERIALIZED`` CTE: the census UNION
    and the downstream stages all read the prior stage's frame, and
    without forced materialization DuckDB re-evaluates the (minhash-
    heavy) nested subqueries once per consumer — measured 264 s → ~4 s
    at sf0.001 for the temperature-mixture census.  This mirrors the
    Spark side exactly, where the same boundaries are `stage_barrier`
    materializations."""
    ctes: list[tuple[str, str]] = []
    base = table
    if line_clean:
        clean_expr = T.c4_clean_sql(text_col)
        ctes.append((
            "__c4base",
            f"SELECT * REPLACE ({clean_expr} AS {text_col}) FROM {table}"
            f" WHERE {T.c4_keep_sql(text_col, clean_expr)}",
        ))
        base = "__c4base"
    ctes.append((
        "__quality", f"SELECT * FROM {base} WHERE {T.gopher_keep_sql(text_col)}"
    ))
    dedup_src = "__quality"
    if domain_col is not None:
        from architxt_spark.functions.domains import domain_screen_sql

        ctes.append((
            "__domain",
            domain_screen_sql(
                "__quality",
                domain_col=domain_col,
                text_col=text_col,
                id_col=id_col,
                blocklist=domain_blocklist,
                max_dup_fraction=domain_max_dup_fraction,
            ),
        ))
        dedup_src = "__domain"
    ctes.append((
        "__keepset",
        dedup_filter_sql(dedup_src, text_col, id_col, near_threshold=near_threshold),
    ))
    ctes.append((
        "__surv",
        f"SELECT t.* FROM {base} t"
        f" WHERE t.{id_col} IN (SELECT id FROM __keepset)",
    ))
    parts = [
        f"SELECT 'input' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM {table}",
    ]
    if line_clean:
        parts.append(f"SELECT 'clean', CAST(count(*) AS BIGINT) FROM {base}")
    parts.append("SELECT 'quality', CAST(count(*) AS BIGINT) FROM __quality")
    if domain_col is not None:
        parts.append("SELECT 'domain', CAST(count(*) AS BIGINT) FROM __domain")
    parts.append("SELECT 'dedup', CAST(count(*) AS BIGINT) FROM __keepset")
    current = "__surv"
    if decontam_bench_table is not None:
        from architxt_spark.functions.dedup import decontaminate_filter_sql

        ctes.append((
            "__decontam",
            decontaminate_filter_sql(
                current, decontam_bench_table, text_col, id_col,
                threshold=decontam_threshold,
            ),
        ))
        current = "__decontam"
        parts.append(f"SELECT 'decontam', CAST(count(*) AS BIGINT) FROM {current}")
    if ppl_drop_tail:
        from architxt_spark.functions.lm import ppl_buckets_sql

        buckets = ppl_buckets_sql(
            current, id_col=id_col, text_col=text_col, train_table=ppl_train_table
        )
        # NOT EXISTS for NULL parity with the Spark left_anti join
        ctes.append((
            "__ppl",
            f"SELECT t.* FROM {current} t WHERE NOT EXISTS"
            f" (SELECT 1 FROM ({buckets}) __tail WHERE __tail.bucket = 'tail'"
            f" AND __tail.{id_col} = t.{id_col})",
        ))
        current = "__ppl"
        parts.append(f"SELECT 'ppl', CAST(count(*) AS BIGINT) FROM {current}")
    if quality_neg_src is not None and quality_pos_src is None:
        raise ValueError("quality_neg_src requires quality_pos_src")
    if quality_pos_src is not None:
        from architxt_spark.functions.classifier import classifier_score_sql

        if quality_neg_src is None:
            raise ValueError("quality_pos_src requires quality_neg_src")
        scored = classifier_score_sql(
            current,
            quality_pos_src,
            quality_neg_src,
            id_col=id_col,
            text_col=text_col,
            bigrams=quality_model_bigrams,
        )
        ctes.append((
            "__cls",
            f"SELECT t.* FROM {current} t WHERE t.{id_col} IN"
            f" (SELECT {id_col} FROM ({scored}) WHERE pred = 1)",
        ))
        current = "__cls"
        parts.append(f"SELECT 'classifier', CAST(count(*) AS BIGINT) FROM {current}")
    if mixture_col is not None and mixture_counts is None and mixture_total is not None:
        from architxt_spark.functions.sampling import temperature_take_sql

        ctes.append((
            "__samp",
            temperature_take_sql(
                current, mixture_col, mixture_strata or [], mixture_total,
                id_col, alpha=mixture_alpha, salt=salt,
            ),
        ))
        current = "__samp"
        parts.append(f"SELECT 'sample', CAST(count(*) AS BIGINT) FROM {current}")
    elif mixture_col is not None and mixture_counts is not None:
        from architxt_spark.functions.sampling import mixture_take_sql

        ctes.append((
            "__samp",
            mixture_take_sql(current, mixture_col, mixture_counts, id_col, salt=salt),
        ))
        current = "__samp"
        parts.append(f"SELECT 'sample', CAST(count(*) AS BIGINT) FROM {current}")
    if pack_token_col is not None:
        from architxt_spark.functions.sampling import pack_sequences_sql

        ctes.append((
            "__packed",
            pack_sequences_sql(
                current, id_col, pack_token_col, pack_budget,
                n_buckets=pack_buckets, salt=salt,
            ),
        ))
        parts.append(
            "SELECT 'pack', CAST(count(*) AS BIGINT) FROM "
            "(SELECT DISTINCT pack_bucket, pack_seq FROM __packed)"
        )
    with_clause = "WITH " + ",\n        ".join(
        f"{name} AS MATERIALIZED ({body})" for name, body in ctes
    )
    if final_select is not None:
        return with_clause + "\n        " + final_select.format(kept=current)
    return with_clause + "\n        " + "\n        UNION ALL\n        ".join(parts)
