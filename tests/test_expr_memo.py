"""Expression-construction memoization (r14 optimization round).

The text composites, the LSH bucket hash, and the graph loader's emission
array are pure functions of their argument EXPRESSIONS but cost 40-590 ms
of py4j round trips per construction; they are memoized per JVM
(``text._memo_expr`` / ``graph._EMISSION_CACHE``).  These tests pin the
cache contract: identical arguments reuse the SAME tree, different
arguments never collide, and a memoized tree still evaluates correctly
when referenced repeatedly (including twice in one projection).
"""

from pyspark.sql import functions as F

from architxt_spark.functions import ann
from architxt_spark.functions import text as T


def test_memo_returns_same_tree_for_same_args(spark):
    a = T.gopher_keep(F.col("text"))
    b = T.gopher_keep(F.col("text"))
    assert a is b  # cache hit: the identical unresolved tree is reused


def test_memo_distinguishes_args(spark):
    assert T.gopher_keep(F.col("text")) is not T.gopher_keep(F.col("body"))
    assert T.shingles(F.col("text"), 2) is not T.shingles(F.col("text"), 3)
    v = F.col("embedding").cast("array<double>")
    assert ann.lsh_bucket(v, 64) is ann.lsh_bucket(v, 64)
    assert ann.lsh_bucket(v, 64, n_planes=4) is not ann.lsh_bucket(v, 64)


def test_memoized_tree_evaluates_correctly_and_repeatedly(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is here",), ("zzz",), ("",)], ["text"]
    )
    # same memoized tree used in two consecutive queries AND twice in one
    # projection — values must match a fresh evaluation of the semantics
    rows = df.select(
        T.lang_id(F.col("text")).alias("l1"),
        T.lang_id(F.col("text")).alias("l2"),
        T.token_count(F.col("text")).alias("n"),
    ).collect()
    assert [(r["l1"], r["l2"]) for r in rows] == [
        ("en", "en"), ("und", "und"), ("und", "und")
    ]
    again = df.select(T.lang_id(F.col("text")).alias("l")).collect()
    assert [r["l"] for r in again] == ["en", "und", "und"]


def test_memo_bypasses_resolved_columns(spark):
    # r15 (ADVICE high): str(Column) prints WITHOUT exprIds, so resolved
    # columns from different DataFrames collide — df2's call must NOT get
    # df1's cached tree (it raised MISSING_ATTRIBUTES before the fix).
    df1 = spark.createDataFrame([("the cat and the dog is here now ok",)], ["text"])
    df2 = spark.createDataFrame([("el la de que y en un una los es si",)], ["text"])
    a = T.gopher_keep(df1["text"])
    b = T.gopher_keep(df2["text"])
    assert a is not b  # resolved attrs bypass the cache
    assert df1.select(a.alias("k")).collect()[0]["k"] is not None
    assert df2.select(b.alias("k")).collect()[0]["k"] is not None
    # and a resolved call must not poison the unresolved cache either
    u1 = T.gopher_keep(F.col("text"))
    u2 = T.gopher_keep(F.col("text"))
    assert u1 is u2


def test_memo_caches_literals_that_look_like_expr_ids(spark):
    # an unresolved tree whose LITERAL contains ``#<digit>`` is still
    # unresolved and must be cached; only a resolved column node bypasses
    assert T.gopher_keep(F.lit("a#1")) is T.gopher_keep(F.lit("a#1"))
    flag = F.when(F.col("text") == "x#3", F.lit("y")).otherwise(F.col("text"))
    assert T.gopher_keep(flag) is T.gopher_keep(flag)
    df = spark.createDataFrame([("a",)], ["text"])
    for resolved in (df["text"], F.upper(df["text"]), df["text"].alias("z")):
        assert T._column_key(resolved) is T._UNCACHEABLE


def test_memo_cache_keyed_on_application_and_bounded(spark):
    # the cache clears when the applicationId changes (dead-JVM columns
    # must never be served) and never grows past its bound
    T._EXPR_CACHE.clear()
    T._EXPR_CACHE_APP[0] = None
    a = T.gopher_keep(F.col("text"))
    assert T._EXPR_CACHE_APP[0] == spark.sparkContext.applicationId
    n_fresh = len(T._EXPR_CACHE)  # gopher_keep + its memoized sub-composites
    assert n_fresh >= 1
    T._EXPR_CACHE_APP[0] = "some-dead-application"
    b = T.gopher_keep(F.col("body"))  # app-id mismatch clears first
    assert len(T._EXPR_CACHE) == n_fresh and b is not a
    assert T._EXPR_CACHE_APP[0] == spark.sparkContext.applicationId
    # bound: overflow evicts the oldest entry instead of growing forever
    for i in range(T._EXPR_CACHE_MAX + 5):
        T._EXPR_CACHE[("synthetic", i)] = i
        while len(T._EXPR_CACHE) > T._EXPR_CACHE_MAX:
            T._EXPR_CACHE.pop(next(iter(T._EXPR_CACHE)))
    T.gopher_keep(F.col("c3"))
    assert len(T._EXPR_CACHE) <= T._EXPR_CACHE_MAX
    T._EXPR_CACHE.clear()


def test_emission_array_cached_per_key(spark):
    from architxt_spark.sources.graph import _EMISSION_CACHE, _emission_array

    app = spark.sparkContext.applicationId
    a = _emission_array(app, "g1", ("name",), ("w",))
    b = _emission_array(app, "g1", ("name",), ("w",))
    c = _emission_array(app, "g2", ("name",), ("w",))
    assert a is b
    assert a is not c  # namespace participates in the OIDs -> distinct tree
    assert (app, "g1", ("name",), ("w",)) in _EMISSION_CACHE
