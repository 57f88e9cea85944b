"""Text-analysis functions: tokenization, language ID, quality scoring,
token counting, document fingerprinting.

Each function has a Spark-Column form and a DuckDB-SQL form generated from
the same constants, so oracle comparisons match exactly.  All Spark forms
are built-in-function expressions (whole-stage codegen; no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Minimal per-language stopword markers for the n-gram/stopword heuristic
#: language identifier.  Order matters: ties resolve to the FIRST language
#: in this list (deterministic argmax).
LANG_MARKERS: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")),
    ("es", ("el", "la", "de", "que", "y", "en", "un", "una", "los", "es")),
    ("fr", ("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans")),
    ("de", ("der", "die", "das", "und", "ist", "von", "den", "ein", "eine", "mit")),
]

#: quality-score weights: alpha-char ratio, non-punctuation ratio,
#: stopword-hit ratio.
QUALITY_WEIGHTS = (0.4, 0.3, 0.3)
ALL_STOPWORDS: tuple[str, ...] = tuple(w for _, ws in LANG_MARKERS for w in ws)


# ---------------------------------------------------------------------------
# Spark column forms
# ---------------------------------------------------------------------------


#: memoized composite expressions — see :func:`_memo_expr`
_EXPR_CACHE: dict = {}

#: cache-size bound: the engine's own call sites build a few dozen
#: distinct composite trees; anything past this means a long-lived
#: session is generating keys programmatically and should stop caching
#: the oldest rather than grow without limit
_EXPR_CACHE_MAX = 1024

#: applicationId the cache was filled under — a restarted SparkContext
#: invalidates every wrapped java reference, so the cache clears when
#: the id changes (``id(jvm)`` was the earlier token; a dead JVMView's
#: address can be RECYCLED by a new view after GC, which would serve
#: Column trees wrapping dead java objects)
_EXPR_CACHE_APP: list = [None]

#: a resolved column (``df["text"]``, alone or nested) enters the java
#: node tree as an ``ExpressionColumnNode(text#0,…)``; unresolved trees
#: print ``UnresolvedAttribute``/``Literal``/``SqlExpression`` nodes, whose
#: literal text may itself contain ``#<digit>``
_RESOLVED_NODE = "ExpressionColumnNode("


#: sentinel: "this Column contains resolved attributes — do not cache"
_UNCACHEABLE = object()


def _column_key(c: Column):
    """Cache-key token for a Column argument, or :data:`_UNCACHEABLE` when
    the tree must NOT be cached.  ``str(Column)`` pretty-prints WITHOUT
    expression IDs, so two RESOLVED columns from different DataFrames
    (``df1['text']`` vs ``df2['text']``) print identically — caching one
    would bind the other frame's plan to the wrong attribute
    (MISSING_ATTRIBUTES on select, or a silent wrong-side bind in a
    join).  The java node string DOES carry exprIds (``text#0``) but also
    call-site origins, which would defeat the cache for unresolved trees
    — so it is used only as a detector: any :data:`_RESOLVED_NODE` means
    resolved attributes are present and the call bypasses the cache
    entirely."""
    if _RESOLVED_NODE in c._jc.node().toString():
        return _UNCACHEABLE
    return str(c)


def _memo_expr(fn):
    """Memoize a Column-composite builder per (application, argument
    expressions).

    The composites below are pure functions of their argument EXPRESSIONS
    (unresolved trees; no session or data dependence), yet building one
    costs 40–160 ms of py4j round trips (measured: ``gopher_keep`` 163 ms,
    ``c4_clean`` 82 ms, ``lang_id`` 58 ms per construction) — and the
    query registry rebuilds them on every call.  The key uses each Column
    argument's printed expression plus the active ``applicationId`` (a
    new application clears the cache rather than reusing dead java
    references).  Columns whose tree contains RESOLVED attributes bypass
    the cache — see :func:`_column_key`.  Reusing one tree at several
    places in a plan is safe: lambda-variable names come from a
    JVM-global atomic counter, so cached trees can nest inside newer
    lambdas without capture."""
    import functools

    from pyspark import SparkContext

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        sc = SparkContext._active_spark_context
        if sc is None:
            return fn(*args, **kwargs)
        try:
            app_id = sc.applicationId
            arg_keys = tuple(
                _column_key(a) if isinstance(a, Column) else a for a in args
            )
            kw_keys = tuple(
                (k, _column_key(v) if isinstance(v, Column) else v)
                for k, v in sorted(kwargs.items())
            )
            if _UNCACHEABLE in arg_keys or any(
                k is _UNCACHEABLE for _, k in kw_keys
            ):
                return fn(*args, **kwargs)  # resolved attributes: never cache
            key = (fn.__name__, arg_keys, kw_keys)
        except Exception:  # noqa: BLE001 — unhashable/unprintable args
            return fn(*args, **kwargs)
        if _EXPR_CACHE_APP[0] != app_id:
            _EXPR_CACHE.clear()
            _EXPR_CACHE_APP[0] = app_id
        out = _EXPR_CACHE.get(key)
        if out is None:
            out = fn(*args, **kwargs)
            while len(_EXPR_CACHE) >= _EXPR_CACHE_MAX:
                _EXPR_CACHE.pop(next(iter(_EXPR_CACHE)))
            _EXPR_CACHE[key] = out
        return out

    return wrapped


def _let(col: Column, body) -> Column:
    """Scalar let-binding: evaluate ``col`` ONCE per row and feed the bound
    value to ``body`` (a 1-element higher-order ``transform``).

    Why this exists: the expression forms below are higher-order-function
    trees, which execute as CodegenFallback (interpreted) — and interpreted
    evaluation has NO common-subexpression elimination, so a subtree
    referenced k times is re-computed k times per row.  Worse, a subtree
    referenced inside a ``transform``/``filter`` lambda is re-computed per
    ELEMENT (``shingles_of_tokens`` re-ran the whole tokenizer once per
    shingle index).  Binding the subtree to a lambda variable makes every
    reference an O(1) variable read: ``dup_ngram_fraction`` over the sf0.1
    corpus dropped 0.95 s → 0.12 s wall (32 cores) from this alone, with
    bit-identical results (the computation is unchanged, only its
    evaluation count).  The DuckDB twins are not affected — they already
    bind via SQL subexpressions."""
    return F.element_at(F.transform(F.array(col), body), 1)


def tokens(col: Column) -> Column:
    """Lower-cased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(F.trim(col)), r"\s+"), lambda x: x != "")


def token_count(col: Column) -> Column:
    """``size(tokens(col))`` computed as ONE compiled-regex scan (count
    of ``\\S+`` runs) — identical by definition, no array allocation,
    and it doesn't break whole-stage codegen the way higher-order
    ``filter``/``split`` do (HOFs are CodegenFallback expressions: one
    in a projection de-optimizes every sibling expression)."""
    return F.regexp_count(col, F.lit(r"\S+"))


@_memo_expr
def distinct_token_ratio(col: Column) -> Column:
    """share of distinct tokens — a repetitiveness signal."""
    return _let(
        tokens(col),
        lambda t: F.when(
            F.size(t) > 0, F.size(F.array_distinct(t)) / F.size(t)
        ).otherwise(F.lit(0.0)),
    )


def _marker_hits(col: Column, words: tuple[str, ...]) -> Column:
    """Count of whitespace-delimited tokens of ``col`` that are in
    ``words`` — one compiled-regex scan.  ``(?<=^|\\s)w(?=\\s|$)``
    matches exactly the occurrences token-membership counting matches:
    the zero-width lookarounds don't consume separators (adjacent marker
    tokens both count) and backtracking resolves marker prefixes (es
    ``un``/``una``).  Verified 0-diff against the token-filter form over
    the full sf0.1 corpus (doc- and line-level)."""
    return F.regexp_count(
        F.lower(col), F.lit(r"(?<=^|\s)(?:%s)(?=\s|$)" % "|".join(words))
    )


@_memo_expr
def lang_id(col: Column) -> Column:
    """Stopword-hit language heuristic: argmax of marker hits per language,
    'und' when no marker hits; ties → first language in LANG_MARKERS.

    The per-language hit counts (one compiled-regex scan each) are bound
    once via :func:`_let` — the argmax chain references each count twice,
    which would otherwise double every scan."""
    hit_arr = F.array(*[_marker_hits(col, words) for _, words in LANG_MARKERS])

    def pick(hs: Column) -> Column:
        best = F.array_max(hs)
        expr = F.lit("und")
        for i, (lang, _) in reversed(list(enumerate(LANG_MARKERS))):
            expr = F.when(
                (best > 0) & (F.element_at(hs, i + 1) == best), F.lit(lang)
            ).otherwise(expr)
        return expr

    return _let(hit_arr, pick)


def alpha_ratio(col: Column) -> Column:
    n = F.length(col)
    a = F.regexp_count(col, F.lit("[a-zA-Z]"))
    return F.when(n > 0, a / n).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    p = F.regexp_count(col, F.lit("[.,;:!?'\"()]"))
    return F.when(n > 0, p / n).otherwise(F.lit(0.0))


@_memo_expr
def stopword_ratio(col: Column) -> Column:
    return _let(
        token_count(col),
        lambda n: F.when(n > 0, _marker_hits(col, ALL_STOPWORDS) / n).otherwise(
            F.lit(0.0)
        ),
    )


@_memo_expr
def quality_score(col: Column) -> Column:
    """weighted combination of alpha ratio, non-punctuation ratio, and
    stopword ratio — the length/punct/stopword quality heuristic."""
    wa, wp, ws = QUALITY_WEIGHTS
    return wa * alpha_ratio(col) + wp * (1 - punct_ratio(col)) + ws * stopword_ratio(col)


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace — the canonical form fingerprints
    and exact dedup hash."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (content hash; the
    rolling-hash variant is ``shingle_fingerprints``)."""
    return F.md5(normalize_text(col))


# ---------------------------------------------------------------------------
# Unicode hygiene (crawl-text preprocessing: the CCNet/C4 cleanup that runs
# BEFORE any hashing — composed vs decomposed forms of the same text must
# fingerprint identically or every dedup stage under-counts)
# ---------------------------------------------------------------------------

#: C0/C1 control characters except tab/newline (CR handled separately so
#: Windows line endings become plain \n, not a stripped-and-joined line)
_CONTROL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]"

#: typographic → ASCII punctuation (1:1 code-point map for translate():
#: curly quotes/primes, hyphen–em-dash family, ellipsis, NBSP)
PUNCT_MAP = (
    "\u2018\u2019\u201a\u201b\u201c\u201d\u201e\u2032\u2033"
    "\u2010\u2011\u2012\u2013\u2014\u2026\u00a0",
    "''''\"\"\"'\"-----. ",
)


def strip_controls(col: Column) -> Column:
    """Remove control characters (C0/C1 minus tab/newline) and normalize
    CRLF/CR to LF — pure codegen regexp chain."""
    c = F.regexp_replace(col, r"\r\n?", "\n")
    return F.regexp_replace(c, _CONTROL_RE, "")


def standardize_punct(col: Column) -> Column:
    """Map typographic punctuation to its ASCII form (``PUNCT_MAP``) —
    one codegen ``translate`` pass, so straight- and curly-quoted copies
    of a sentence dedup together."""
    return F.translate(col, *PUNCT_MAP)


#: session function name of the optional JVM NFC UDF — ship-and-register
#: via architxt_spark.jvm.register_jvm_nfc (javac-compiled
#: java.text.Normalizer wrapper, ADD JAR at runtime).  When a function
#: of this name is registered on the session, nfc_normalize takes it
#: automatically: zero Arrow transfer on the curation hot path.
JVM_NFC_FUNC = "architxt_nfc"


def nfc_normalize(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    """Unicode NFC normalization of a string column (decomposed e +
    combining acute → composed é, compatibility sequences untouched).

    Engine path, in order: the JVM UDF registered as
    :data:`JVM_NFC_FUNC` (see :mod:`architxt_spark.jvm` — a one-line
    ``java.text.Normalizer`` wrapper compiled from shipped source and
    attached with ``ADD JAR``, the 100-TB path: no Arrow batch
    transfer, no Python workers); else the Arrow fallback, one
    vectorized ``pandas_udf`` over ``unicodedata.normalize`` —
    per-batch Python, never per-row.  JDK and CPython both implement
    UAX #15, so the paths are output-identical (parity-tested in
    test_jvm_nfc.py); the column contract is engine-agnostic (DuckDB
    twin: ``nfc_normalize``).  NFC is idempotent and ASCII-invariant:
    ASCII-only corpora pass through byte-identical."""
    try:
        has_jvm = df.sparkSession.catalog.functionExists(JVM_NFC_FUNC)
    except Exception:  # noqa: BLE001 — a catalog quirk must not kill the fallback
        has_jvm = False
    if has_jvm:
        return df.withColumn(out or col, F.expr(f"{JVM_NFC_FUNC}(`{col}`)"))
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc_fn(s):
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )

    # real annotation objects: the module-wide `from __future__ import
    # annotations` stringifies inline hints, which pandas_udf rejects
    _nfc_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _nfc = pandas_udf(_nfc_fn, "string")
    return df.withColumn(out or col, _nfc(F.col(col)))


def clean_unicode(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    """The composed hygiene pass: NFC → control strip → punctuation
    standardization.  NFC runs first so decomposed typographic marks are
    composed before the translate map sees them; it runs JVM-side when
    the :data:`JVM_NFC_FUNC` UDF is registered, else the Arrow fallback.
    The input spreads to the session's parallelism when under-partitioned
    (one parquet file ⇒ one partition ⇒ the Arrow NFC batch serializes on
    a single core)."""
    from architxt_spark.functions.dedup import _spread

    df = nfc_normalize(_spread(df), col, out or col)
    return df.withColumn(
        out or col, standardize_punct(strip_controls(F.col(out or col)))
    )


def strip_controls_sql(col: str) -> str:
    return (
        f"regexp_replace(regexp_replace({col}, '\\r\\n?', chr(10), 'g'),"
        f" '{_CONTROL_RE}', '', 'g')"
    )


def standardize_punct_sql(col: str) -> str:
    src = PUNCT_MAP[0].replace("'", "''")
    dst = PUNCT_MAP[1].replace("'", "''")
    return f"translate({col}, '{src}', '{dst}')"


def clean_unicode_sql(col: str) -> str:
    """DuckDB twin of :func:`clean_unicode` (DuckDB has a native
    ``nfc_normalize``; same Unicode standard the Python pass applies)."""
    return standardize_punct_sql(strip_controls_sql(f"nfc_normalize({col})"))


def shingles_of_tokens(t: Column, n: int = 3) -> Column:
    """word n-gram shingles from a token array column.  The array is
    re-bound through :func:`_let`, so even an INLINED token expression is
    evaluated once per row — the window transform's per-index ``slice``
    references then read a bound variable, not the tokenizer subtree
    (which used to re-run once per shingle index when callers passed an
    expression instead of a materialized attribute)."""
    return _let(
        t,
        lambda tt: F.when(
            F.size(tt) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(tt) - n),
                lambda i: F.array_join(F.slice(tt, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


@_memo_expr
def shingles(col: Column, n: int = 3) -> Column:
    """word n-gram shingles (space-joined), [] when fewer than n tokens."""
    return shingles_of_tokens(tokens(col), n)


# ---------------------------------------------------------------------------
# DuckDB SQL forms (same definitions, rendered as SQL strings)
# ---------------------------------------------------------------------------


def tokens_sql(col: str) -> str:
    return f"list_filter(string_split_regex(lower(trim({col})), '\\s+'), x -> x <> '')"


def token_count_sql(col: str) -> str:
    return f"len({tokens_sql(col)})"


def distinct_token_ratio_sql(col: str) -> str:
    t = tokens_sql(col)
    return f"(case when len({t}) > 0 then len(list_distinct({t})) / cast(len({t}) as double) else 0.0 end)"


def _hits_sql(col: str, words: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({tokens_sql(col)}, x -> list_contains({lst}, x)))"


def lang_id_sql(col: str) -> str:
    hits = [(lang, _hits_sql(col, words)) for lang, words in LANG_MARKERS]
    best = "greatest(" + ", ".join(h for _, h in hits) + ")"
    expr = "'und'"
    for lang, h in reversed(hits):
        expr = f"(case when {best} > 0 and {h} = {best} then '{lang}' else {expr} end)"
    return expr


def alpha_ratio_sql(col: str) -> str:
    return (
        f"(case when length({col}) > 0 then length(regexp_replace({col}, '[^a-zA-Z]', '', 'g'))"
        f" / cast(length({col}) as double) else 0.0 end)"
    )


def punct_ratio_sql(col: str) -> str:
    cls = "[^.,;:!?''\"()]"
    return (
        f"(case when length({col}) > 0 then length(regexp_replace({col}, '{cls}', '', 'g'))"
        f" / cast(length({col}) as double) else 0.0 end)"
    )


def stopword_ratio_sql(col: str) -> str:
    t = tokens_sql(col)
    return (
        f"(case when len({t}) > 0 then {_hits_sql(col, ALL_STOPWORDS)}"
        f" / cast(len({t}) as double) else 0.0 end)"
    )


def quality_score_sql(col: str) -> str:
    wa, wp, ws = QUALITY_WEIGHTS
    return (
        f"({wa} * {alpha_ratio_sql(col)} + {wp} * (1 - {punct_ratio_sql(col)})"
        f" + {ws} * {stopword_ratio_sql(col)})"
    )


def normalize_text_sql(col: str) -> str:
    return f"regexp_replace(lower(trim({col})), '\\s+', ' ', 'g')"


def fingerprint_sql(col: str) -> str:
    return f"md5({normalize_text_sql(col)})"


def shingles_sql(col: str, n: int = 3) -> str:
    t = tokens_sql(col)
    return (
        f"(case when len({t}) >= {n} then"
        f" list_transform(range(0, len({t}) - {n} + 1),"
        f" i -> array_to_string(({t})[i + 1 : i + {n}], ' '))"
        f" else [] end)"
    )


# ---------------------------------------------------------------------------
# repetition / PII / contamination (training-data hygiene family)
# ---------------------------------------------------------------------------

@_memo_expr
def dup_ngram_fraction(col: Column, n: int = 2) -> Column:
    """Repetition score: fraction of word n-grams that are repeats
    (Gopher-style repetition signal re-expressed for single-line corpora:
    ``1 - distinct_ngrams / total_ngrams``).  Pure column ops."""
    return _let(
        shingles(col, n),
        lambda sh: F.when(
            F.size(sh) > 0,
            F.lit(1.0) - F.size(F.array_distinct(sh)) / F.size(sh).cast("double"),
        ).otherwise(F.lit(0.0)),
    )


def dup_ngram_fraction_sql(col: str, n: int = 2) -> str:
    sh = shingles_sql(col, n)
    return (
        f"(case when len({sh}) > 0 then"
        f" 1.0 - len(list_distinct({sh})) / cast(len({sh}) as double)"
        f" else 0.0 end)"
    )


#: (kind, pattern, replacement) — patterns restricted to syntax with
#: identical semantics in Java regex (Spark) and RE2 (DuckDB) so the same
#: chain yields byte-identical redactions on both engines.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d{1,3}[- .]\d{3}[- .]\d{3,4}[- .]\d{3,4}", "<PHONE>"),
)


def pii_count(col: Column, kind: str) -> Column:
    """Occurrences of one PII pattern (JVM-side ``regexp_count``)."""
    pattern = next(p for k, p, _ in PII_PATTERNS if k == kind)
    return F.regexp_count(col, F.lit(pattern))


def pii_count_sql(col: str, kind: str) -> str:
    pattern = next(p for k, p, _ in PII_PATTERNS if k == kind)
    return f"len(regexp_extract_all({col}, '{pattern}'))"


@_memo_expr
def redact_pii(col: Column) -> Column:
    """Replace every PII match with its placeholder, chained in
    ``PII_PATTERNS`` order (email before ipv4/phone so digit runs inside
    addresses are consumed first)."""
    out = col
    for _, pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def redact_pii_sql(col: str) -> str:
    out = col
    for _, pattern, repl in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pattern}', '{repl}', 'g')"
    return out


# ---------------------------------------------------------------------------
# rolling-hash fingerprints (winnowing) + BPE-ish token counting
# ---------------------------------------------------------------------------

@_memo_expr
def shingle_fingerprints(col: Column, n: int = 3) -> Column:
    """Rolling window fingerprints: one md5 per word n-gram (md5 because it
    is the hash both engines share bit-for-bit — the oracle twin must
    produce identical values)."""
    return F.transform(shingles(col, n), lambda s: F.md5(s))


def shingle_fingerprints_sql(col: str, n: int = 3) -> str:
    return f"list_transform({shingles_sql(col, n)}, s -> md5(s))"


def winnow_of_hashes(h: Column, w: int = 4) -> Column:
    """Winnowing over a PRE-COMPUTED (materialized) shingle-hash array
    column — the hot-path form.  ``h`` must be an attribute, not an
    inlined expression: the window transform references it once per
    window, and a downstream ``explode`` re-evaluates the generator
    expression per OUTPUT row, so an inlined hash chain turns the whole
    pipeline quadratic (winnow_pairs benched 485 s vs 0.5 s at sf0.1 for
    exactly this reason)."""
    mins = F.when(
        F.size(h) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(h) - w),
            lambda i: F.array_min(F.slice(h, i + 1, w)),
        ),
    ).otherwise(
        F.when(F.size(h) > 0, F.array(F.array_min(h))).otherwise(
            F.array().cast("array<string>")
        )
    )
    return F.array_distinct(mins)


@_memo_expr
def winnow_fingerprints(col: Column, n: int = 3, w: int = 4) -> Column:
    """Winnowing (MOSS-style document fingerprint): the minimum shingle
    hash of each sliding window of ``w`` consecutive n-gram hashes,
    deduplicated.  Guarantees any shared run of >= n+w-1 tokens between two
    documents shares a fingerprint, with ~1/w of the hashes kept — the
    sub-linear fingerprint set for plagiarism/near-dup screening at scale.
    Pure column ops; fine for per-row stats, but NEVER explode this form —
    materialize the hash array and use :func:`winnow_of_hashes` instead.
    The hash array is :func:`_let`-bound, so the window transform's
    per-index ``slice`` references read a bound variable instead of
    re-running the md5 chain once per window."""
    return _let(shingle_fingerprints(col, n), lambda h: winnow_of_hashes(h, w))


def winnow_fingerprints_sql(col: str, n: int = 3, w: int = 4) -> str:
    h = shingle_fingerprints_sql(col, n)
    return (
        f"list_distinct((CASE WHEN len({h}) >= {w} THEN"
        f" list_transform(range(0, len({h}) - {w} + 1), i -> list_min(({h})[i + 1 : i + {w}]))"
        f" WHEN len({h}) > 0 THEN [list_min({h})]"
        f" ELSE [] END))"
    )


#: BPE-ish pre-tokenizer classes: letter runs, short digit runs, punct runs
#: (identical semantics in Java regex and RE2).
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+"


@_memo_expr
def bpe_token_count(col: Column) -> Column:
    """Token count under a BPE-style pre-tokenization (letters / digit
    triples / punctuation runs) — the whitespace count underestimates
    LLM-tokenizer load on punctuation-heavy text."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_PATTERN))


def bpe_token_count_sql(col: str) -> str:
    return f"len(regexp_extract_all({col}, '{BPE_TOKEN_PATTERN}'))"


# ---------------------------------------------------------------------------
# document chunking (context-window preparation)
# ---------------------------------------------------------------------------


def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    chunk_tokens: int = 64,
    overlap: int = 16,
):
    """Split documents into overlapping token windows — the
    context-window preparation step between curation and packing: chunk
    ``i`` covers tokens ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the final window may be short.
    A window is emitted only if it adds tokens beyond the previous one
    (its start is capped at ``len - overlap - 1``), so no chunk is ever
    fully contained in its predecessor.

    Returns ``(id_col, chunk_id, n_tokens, chunk_md5)`` — the md5 of the
    space-joined window, so verification rows stay small whatever the
    chunk size.

    Scale shape: one narrow explode per document (no shuffle anywhere —
    the operator is partition-local); deterministic pure slicing, so the
    DuckDB twin reproduces windows exactly.
    """
    from architxt_spark.functions.search import retrieval_tokens

    if overlap >= chunk_tokens:
        raise ValueError(f"overlap={overlap} must be < chunk_tokens={chunk_tokens}")
    stride = chunk_tokens - overlap
    toks = retrieval_tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__t")).filter(F.size("__t") > 0)
    last_start = F.greatest(F.size("__t") - overlap - 1, F.lit(0))
    starts = F.sequence(F.lit(0), last_start, F.lit(stride))
    out = base.select(
        id_col, "__t", F.explode(starts).alias("__start")
    ).select(
        id_col,
        (F.col("__start") / stride).cast("int").alias("chunk_id"),
        F.slice(F.col("__t"), F.col("__start") + 1, chunk_tokens).alias("__c"),
    )
    return out.select(
        id_col,
        "chunk_id",
        F.size("__c").cast("long").alias("n_tokens"),
        F.md5(F.array_join(F.col("__c"), " ")).alias("chunk_md5"),
    )


def chunk_documents_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> str:
    """DuckDB twin of :func:`chunk_documents`."""
    from architxt_spark.functions.search import retrieval_tokens_sql

    if overlap >= chunk_tokens:
        raise ValueError(f"overlap={overlap} must be < chunk_tokens={chunk_tokens}")
    stride = chunk_tokens - overlap
    toks = retrieval_tokens_sql(text_col)
    return f"""
        SELECT {id_col}, CAST(s // {stride} AS INT) AS chunk_id,
               CAST(len(t[s + 1 : s + {chunk_tokens}]) AS BIGINT) AS n_tokens,
               md5(array_to_string(t[s + 1 : s + {chunk_tokens}], ' ')) AS chunk_md5
        FROM (
            SELECT {id_col}, t,
                   unnest(generate_series(0, greatest(len(t) - {overlap} - 1, 0), {stride})) AS s
            FROM (SELECT {id_col}, {toks} AS t FROM {table})
            WHERE len(t) > 0
        )
    """


def ngram_stats(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    k: int = 50,
):
    """Corpus n-gram heavy hitters: the top-``k`` n-grams by document
    frequency (then total occurrences, then the gram itself — fully
    deterministic ranking).  The boilerplate-detection statistic C4-style
    cleaning pipelines compute before writing their blocklists.

    Scale shape: one explode + map-combinable groupBy (canonical
    wordcount over grams); the top-k is TakeOrdered.  Exact, not
    sketched — heavy hitters concentrate mass, and the gram-keyed
    shuffle is skew-safe after partial aggregation.
    """
    # materialize tokens first (shingles_of_tokens contract): inlining the
    # split into the shingle lambda re-evaluates it once per gram
    grams = df.select(
        F.col(id_col).alias("__d"), tokens(F.col(text_col)).alias("__t")
    ).select(
        "__d",
        F.explode(shingles_of_tokens(F.col("__t"), n)).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count_distinct("__d").alias("doc_freq"),
            F.count("*").cast("long").alias("total_freq"),
        )
        .orderBy(F.desc("doc_freq"), F.desc("total_freq"), "gram")
        .limit(k)
    )


def ngram_stats_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text", *, n: int = 3, k: int = 50
) -> str:
    """DuckDB twin of :func:`ngram_stats`."""
    return f"""
        SELECT gram, CAST(count(DISTINCT __d) AS BIGINT) AS doc_freq,
               CAST(count(*) AS BIGINT) AS total_freq
        FROM (
            SELECT {id_col} AS __d, unnest({shingles_sql(text_col, n)}) AS gram
            FROM {table}
        )
        GROUP BY gram
        ORDER BY doc_freq DESC, total_freq DESC, gram
        LIMIT {k}
    """


def collocations(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 5,
) -> DataFrame:
    """Corpus bigram collocation mining: pointwise mutual information
    ``pmi = ln c_xy + ln N − ln c_x − ln c_y`` for every adjacent word
    pair occurring at least ``min_count`` times — the association
    statistic phrase detectors (word2vec-style phrase joining, keyword
    mining) rank by.  Output: ``(w1, w2, c_xy, c_x, c_y, n_tokens,
    pmi)`` with every count an exact BIGINT.

    Scale shape: bigram and unigram wordcounts are two map-combinable
    shuffles over one scan each (tokenizing twice beats persisting a
    corpus-size token-array frame — tokenization is scan-side and free
    of shuffle; the explode feeds a map-side aggregation, the case the
    explode-chain rule exempts from materialization).  The
    ``min_count`` filter lands BEFORE the unigram joins, so only heavy
    bigrams reach them; the total-token count rides a 1-row broadcast.
    The log form avoids the ``c_xy·N`` BIGINT overflow a 100-TB corpus
    would hit and keeps engine skew at libm-ulp level, far under the
    gate's 6-significant-digit float normalization."""
    from architxt_spark.functions.dedup import _spread

    df = _spread(df)
    t = F.col(text_col)
    bi = (
        df.select(tokens(t).alias("__t"))
        .select(F.explode(shingles_of_tokens(F.col("__t"), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
        .select(
            F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("gram"), F.lit(" "), F.lit(2)).alias("w2"),
            "c_xy",
        )
    )
    uni = (
        df.select(F.explode(tokens(t)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    n = uni.agg(F.sum("c").cast("long").alias("n_tokens"))
    return (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1", "w2", "c_xy", "c_x", "c_y", "n_tokens",
            (
                F.log(F.col("c_xy").cast("double"))
                + F.log(F.col("n_tokens").cast("double"))
                - F.log(F.col("c_x").cast("double"))
                - F.log(F.col("c_y").cast("double"))
            ).alias("pmi"),
        )
    )


def collocations_sql(table: str, text_col: str = "text", *, min_count: int = 5) -> str:
    """DuckDB twin of :func:`collocations` (same log-sum form so float
    skew stays at ulp level)."""
    return f"""
        WITH bi AS (
            SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2,
                   CAST(COUNT(*) AS BIGINT) AS c_xy
            FROM (SELECT unnest({shingles_sql(text_col, 2)}) AS gram FROM {table})
            GROUP BY 1, 2
            HAVING COUNT(*) >= {min_count}
        ),
        uni AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest({tokens_sql(text_col)}) AS w FROM {table})
            GROUP BY w
        ),
        n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni)
        SELECT bi.w1, bi.w2, bi.c_xy, ux.c AS c_x, uy.c AS c_y, n.n_tokens,
               ln(CAST(bi.c_xy AS DOUBLE)) + ln(CAST(n.n_tokens AS DOUBLE))
               - ln(CAST(ux.c AS DOUBLE)) - ln(CAST(uy.c AS DOUBLE)) AS pmi
        FROM bi JOIN uni ux ON bi.w1 = ux.w JOIN uni uy ON bi.w2 = uy.w, n
    """


def tfidf_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_df: int = 2,
    min_tf: int = 2,
    top_k: int | None = None,
) -> DataFrame:
    """Per-document TF-IDF term scores — the keyword-extraction /
    salient-term statistic: ``(id, term, tf, df, n_docs, tfidf)`` for
    terms with ``tf >= min_tf`` in the document and ``df >= min_df``
    across the corpus; ``tfidf = tf * ln(n_docs / df)``.

    ``top_k`` keeps each document's k highest-scoring terms
    (score desc, then term asc).  Row MEMBERSHIP under the default
    ``top_k=None`` is decided purely by exact integer thresholds — the
    form the dual-engine hash oracle runs; top-k ranking compares float
    scores whose cross-engine skew is libm-ulp (ties on equal (tf, df)
    are exact and break on the term), so the ranked variant is verified
    by the unit-test mirror rather than the SQL twin.

    Scale shape: one token explode → (doc, term) counts (map-combinable
    shuffle), document frequencies from the SAME aggregate (distinct
    doc-term pairs), corpus size on a 1-row broadcast; the ``min_tf``
    filter prunes before the df join.  Top-k is a per-document window —
    partitioned by the document id, never global."""
    from architxt_spark.functions.dedup import _spread

    df = _spread(df)
    pairs = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .filter(F.col("tf") >= min_tf)
    )
    dfreq = (
        pairs.groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    n = df.agg(F.count("*").cast("long").alias("n_docs"))
    out = (
        pairs.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("id").alias(id_col),
            "term",
            "tf",
            "df",
            "n_docs",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ).alias("tfidf"),
        )
    )
    if top_k is not None:
        w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "term")
        out = out.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= top_k
        ).drop("__rn")
    return out


def tfidf_terms_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_df: int = 2,
    min_tf: int = 2,
) -> str:
    """DuckDB twin of :func:`tfidf_terms` (unranked form — membership is
    integer-exact; the score replays the same ``tf * ln(n/df)``)."""
    return f"""
        WITH pairs AS (
            SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT {id_col} AS id, unnest({tokens_sql(text_col)}) AS term
                  FROM {table})
            GROUP BY id, term
            HAVING COUNT(*) >= {min_tf}
        ),
        dfreq AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM pairs GROUP BY term HAVING COUNT(*) >= {min_df}
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM {table})
        SELECT pairs.id AS {id_col}, pairs.term, pairs.tf, dfreq.df, n.n_docs,
               pairs.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS tfidf
        FROM pairs JOIN dfreq USING (term), n
    """


def corpus_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 1,
) -> DataFrame:
    """Token-distribution drift between two corpora (old snapshot vs new
    crawl): per-token counts, Laplace-smoothed probabilities over the
    UNION vocabulary, and the token's contribution to symmetrised KL
    ``(p−q)·ln(p/q)`` (Jeffreys divergence — ≥ 0 per token, so heavy
    drift contributors rank directly).  Output: ``(token, c_a, c_b,
    jeffreys)``; ``SUM(jeffreys)`` is the corpus drift scalar.

    Determinism: counts are exact BIGINTs; smoothed probabilities are
    single IEEE divisions of exact integers; the one float product is
    value-hashed per token (libm-ulp skew only) — the corpus scalar, if
    needed deterministically, follows the round→DECIMAL-sum rule
    (``functions/domains.py``).  Scale shape: two map-combinable
    wordcounts + one full-outer join on the token key; ``min_count``
    prunes the long tail before the join."""
    from architxt_spark.functions.dedup import _spread

    def counts(d: DataFrame, name: str) -> DataFrame:
        return (
            _spread(d)
            .select(F.explode(tokens(F.col(text_col))).alias("token"))
            .groupBy("token")
            .agg(F.count("*").cast("long").alias(name))
        )

    ca, cb = counts(df_a, "c_a"), counts(df_b, "c_b")
    joined = (
        ca.join(cb, "token", "full_outer")
        .select(
            "token",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
        .filter((F.col("c_a") + F.col("c_b")) >= min_count)
    )
    totals = joined.agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
        F.count("*").cast("long").alias("v"),
    )
    p = (F.col("c_a") + 1).cast("double") / (F.col("n_a") + F.col("v")).cast("double")
    q = (F.col("c_b") + 1).cast("double") / (F.col("n_b") + F.col("v")).cast("double")
    return joined.crossJoin(F.broadcast(totals)).select(
        "token",
        "c_a",
        "c_b",
        ((p - q) * F.log(p / q)).alias("jeffreys"),
    )


def corpus_drift_sql(
    table_a: str, table_b: str, text_col: str = "text", *, min_count: int = 1
) -> str:
    """DuckDB twin of :func:`corpus_drift` (same smoothing, same
    expression shape so float skew stays at ulp level)."""
    def cnt(table: str, name: str) -> str:
        return (
            f"SELECT token, CAST(COUNT(*) AS BIGINT) AS {name} FROM "
            f"(SELECT unnest({tokens_sql(text_col)}) AS token FROM {table}) GROUP BY token"
        )

    return f"""
        WITH ca AS ({cnt(table_a, 'c_a')}),
        cb AS ({cnt(table_b, 'c_b')}),
        j AS (
            SELECT token, COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
            FROM ca FULL OUTER JOIN cb USING (token)
            WHERE COALESCE(c_a, 0) + COALESCE(c_b, 0) >= {min_count}
        ),
        t AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
                     CAST(SUM(c_b) AS BIGINT) AS n_b,
                     CAST(COUNT(*) AS BIGINT) AS v FROM j)
        SELECT token, c_a, c_b,
               ((CAST(c_a + 1 AS DOUBLE) / CAST(n_a + v AS DOUBLE))
                - (CAST(c_b + 1 AS DOUBLE) / CAST(n_b + v AS DOUBLE)))
               * ln((CAST(c_a + 1 AS DOUBLE) / CAST(n_a + v AS DOUBLE))
                    / (CAST(c_b + 1 AS DOUBLE) / CAST(n_b + v AS DOUBLE))) AS jeffreys
        FROM j, t
    """


@_memo_expr
def gopher_keep(col: Column) -> Column:
    """The Gopher composite keep decision as one boolean column — the
    rule set `__spark_entry__.q_gopher_quality_flags` reports flag-by-flag
    (word-count 20..100k, mean word length 3..10, repeated-bigram
    fraction ≤ 0.2, stopword ratio ≥ 0.02), packaged for pipeline
    composition (pure scan filter, no shuffle)."""
    n_tok = token_count(col)
    mean_wl = F.length(F.regexp_replace(col, r"\s+", "")) / F.greatest(n_tok, F.lit(1))
    return (
        n_tok.between(20, 100000)
        & mean_wl.between(3.0, 10.0)
        & (dup_ngram_fraction(col, 2) <= 0.2)
        & (stopword_ratio(col) >= 0.02)
    )


def gopher_keep_sql(col: str) -> str:
    """DuckDB twin of :func:`gopher_keep`."""
    return (
        f"(({token_count_sql(col)} BETWEEN 20 AND 100000)"
        f" AND ((length(regexp_replace({col}, '\\s+', '', 'g'))"
        f" / greatest({token_count_sql(col)}, 1)) BETWEEN 3.0 AND 10.0)"
        f" AND ({dup_ngram_fraction_sql(col, 2)} <= 0.2)"
        f" AND ({stopword_ratio_sql(col)} >= 0.02))"
    )


# ---------------------------------------------------------------------------
# C4-style line-level cleaning (Raffel et al. 2020, §2.2; the published
# rule set behind the C4 corpus.  Reference parity note: the reference has
# no web-cleaning pass — this is part of the beyond-reference pretraining
# pipeline, sited here next to the Gopher gate it composes with.)
# ---------------------------------------------------------------------------

#: Lines containing any of these (case-insensitive) are boilerplate
#: cookie/policy notices — dropped by the C4 line filter.
C4_POLICY_SUBSTRINGS: tuple[str, ...] = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
    "use cookies",
)

#: A line must have at least this many whitespace-separated words.
C4_MIN_LINE_WORDS = 5

#: A cleaned page must have at least this many sentence terminators.
C4_MIN_SENTENCES = 3

#: Terminal punctuation a retained line must end with.
_C4_TERMINAL_RE = '[.!?"]$'


def _c4_line_keep(line: Column) -> Column:
    """C4 per-line keep predicate (applied to the raw split line): the
    trimmed line ends in terminal punctuation, has ≥ 5 words, and is not a
    javascript/cookie-policy boilerplate notice.  Pure codegen — runs
    inside a higher-order ``filter`` over the line array."""
    def check(t: Column) -> Column:
        def with_low(low: Column) -> Column:
            words = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != F.lit("")))
            keep = t.rlike(_C4_TERMINAL_RE) & (words >= C4_MIN_LINE_WORDS)
            keep = keep & ~low.contains("javascript")
            for s in C4_POLICY_SUBSTRINGS:
                keep = keep & ~low.contains(s)
            return keep

        return _let(F.lower(t), with_low)

    # trim and lower are each referenced by several predicates — bound once
    # per line (see _let; this predicate runs inside a per-line filter)
    return _let(F.trim(line), check)


@_memo_expr
def c4_clean(col: Column) -> Column:
    """Cleaned page text: newline-joined subset of lines passing
    :func:`_c4_line_keep`.  No shuffle — a scan-side projection."""
    return F.array_join(F.filter(F.split(col, "\n"), _c4_line_keep), "\n")


@_memo_expr
def c4_keep(col: Column, cleaned: Column) -> Column:
    """C4 page-level keep decision: the page (original text) contains no
    ``lorem ipsum`` and no curly brace (code), and the CLEANED text still
    has ≥ 3 sentence terminators.  Pass the :func:`c4_clean` output as
    ``cleaned`` (ideally via a projection barrier so the line filter runs
    once)."""
    n_sent = F.regexp_count(cleaned, F.lit(r"[.!?]"))
    return _let(
        F.lower(col),
        lambda low: ~low.contains("lorem ipsum")
        & ~low.contains("{")
        & (n_sent >= C4_MIN_SENTENCES),
    )


def _c4_line_keep_sql(line: str) -> str:
    t = f"trim({line})"
    low = f"lower({t})"
    words = f"len(list_filter(regexp_split_to_array({t}, '\\s+'), w -> w <> ''))"
    preds = [
        f"regexp_matches({t}, '{_C4_TERMINAL_RE}')",
        f"{words} >= {C4_MIN_LINE_WORDS}",
        f"NOT contains({low}, 'javascript')",
    ]
    preds += [f"NOT contains({low}, '{s}')" for s in C4_POLICY_SUBSTRINGS]
    return "(" + " AND ".join(preds) + ")"


def c4_clean_sql(col: str) -> str:
    """DuckDB twin of :func:`c4_clean`.  DuckDB's ``array_to_string``
    returns NULL for an empty list where Spark's ``array_join`` returns
    ``''`` — the CASE/coalesce pins both engines to: NULL in → NULL out,
    all-lines-dropped → empty string."""
    joined = (
        f"array_to_string(list_filter(string_split({col}, chr(10)),"
        f" l -> {_c4_line_keep_sql('l')}), chr(10))"
    )
    return f"CASE WHEN {col} IS NULL THEN NULL ELSE coalesce({joined}, '') END"


def c4_keep_sql(col: str, cleaned: str) -> str:
    """DuckDB twin of :func:`c4_keep`."""
    return (
        f"(NOT contains(lower({col}), 'lorem ipsum')"
        f" AND NOT contains(lower({col}), '{{')"
        f" AND len(regexp_extract_all({cleaned}, '[.!?]')) >= {C4_MIN_SENTENCES})"
    )


def dedup_lines(col: Column) -> Column:
    """Within-document duplicate-line removal (the Gopher/RefinedWeb
    repetition transform at line granularity): keep each line's FIRST
    occurrence, preserving order — nav menus and footer blocks repeated
    through a page collapse to one copy before any corpus-level pass.
    Pure codegen (`array_distinct` preserves first-occurrence order);
    NULL in → NULL out."""
    return F.array_join(F.array_distinct(F.split(col, "\n")), "\n")


def dedup_lines_sql(col: str) -> str:
    """DuckDB twin of :func:`dedup_lines`.  DuckDB's ``list_distinct``
    does NOT preserve order, so the twin keeps first occurrences via an
    index lambda (``list_position`` returns 0 when absent); the same
    NULL/empty pinning as :func:`c4_clean_sql`."""
    lines = f"string_split({col}, chr(10))"
    kept = (
        f"list_filter({lines}, (x, i) ->"
        f" list_position(({lines})[1:i-1], x) = 0)"
    )
    return (
        f"CASE WHEN {col} IS NULL THEN NULL"
        f" ELSE coalesce(array_to_string({kept}, chr(10)), '') END"
    )


def line_lang_profile(col: Column) -> Column:
    """Per-line language segmentation profile:
    ``struct(n_lines, n_known, n_dominant, dominant_lang, mixed)`` —
    lines are language-identified individually (same stopword heuristic
    as :func:`lang_id`), the dominant language is the per-line majority
    (ties → LANG_MARKERS order), and ``mixed`` flags documents whose
    identified lines disagree — the signal a monolingual pretraining mix
    uses to drop or split code-switched pages.  Pure (nested)
    higher-order codegen — no shuffle, no Python.

    The per-line language ID is :func:`lang_id` applied per line —
    since the regexp_count rewrite that is FOUR compiled-regex scans,
    not a per-token interpreted loop: expressions inside higher-order
    lambdas run on the interpreted eval path, where the former
    ``aggregate`` over tokens allocated a hit-vector array per token
    (measured 1.28 s at sf0.1) while the regex counts stay inside
    cached JVM matchers (0.23 s — 5.6×); 0-diff over the full sf0.1
    corpus.  Same hit counts and first-marker tie order as the DuckDB
    twin's line-by-line replay."""
    lines = F.split(col, "\n")
    langs = F.transform(lines, lang_id)
    known = F.filter(langs, lambda x: x != "und")
    def eq_for(lang: str):
        # closure factory, NOT a default-arg lambda — pyspark binds
        # Columns to every lambda parameter, defaulted ones included
        return lambda x: x == F.lit(lang)

    counts = {
        lang: F.size(F.filter(known, eq_for(lang))) for lang, _ in LANG_MARKERS
    }
    best = F.greatest(*counts.values())
    dominant = F.lit("und")
    for lang, _ in reversed(LANG_MARKERS):
        dominant = F.when((best > 0) & (counts[lang] == best), F.lit(lang)).otherwise(dominant)
    n_known = F.size(known)
    return F.struct(
        F.size(lines).cast("long").alias("n_lines"),
        n_known.cast("long").alias("n_known"),
        best.cast("long").alias("n_dominant"),
        dominant.alias("dominant_lang"),
        ((n_known - best) > 0).alias("mixed"),
    )


def line_lang_profile_sql(col: str) -> str:
    """DuckDB twin of :func:`line_lang_profile` (per-line lang_id via a
    list lambda; the same argmax/tie order)."""
    langs = f"list_transform(string_split({col}, chr(10)), l -> {lang_id_sql('l')})"
    known = f"list_filter({langs}, x -> x <> 'und')"
    counts = {
        lang: f"len(list_filter({known}, x -> x = '{lang}'))"
        for lang, _ in LANG_MARKERS
    }
    best = "greatest(" + ", ".join(counts.values()) + ")"
    dominant = "'und'"
    for lang, _ in reversed(LANG_MARKERS):
        dominant = (
            f"(case when {best} > 0 and {counts[lang]} = {best}"
            f" then '{lang}' else {dominant} end)"
        )
    return (
        f"struct_pack(n_lines := CAST(len(string_split({col}, chr(10))) AS BIGINT),"
        f" n_known := CAST(len({known}) AS BIGINT),"
        f" n_dominant := CAST({best} AS BIGINT),"
        f" dominant_lang := {dominant},"
        f" mixed := (len({known}) - {best}) > 0)"
    )
