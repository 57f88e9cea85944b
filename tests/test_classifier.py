"""Hashed perceptron quality classifier: separable-corpus learning,
integer-exact cross-engine parity, scale-shape (broadcast scoring)."""

import pytest
from pyspark.sql import functions as F

from architxt_spark.functions.classifier import (
    classifier_margin_expr,
    classifier_score,
    quality_classifier_sql,
    train_quality_classifier,
)


def _corpus(spark):
    good = [(i, "excellent thorough prose with careful structure and depth " * 2)
            for i in range(10)]
    bad = [(100 + i, "spam spam buy now click here winner prize " * 2) for i in range(10)]
    return (
        spark.createDataFrame(good, ["doc_id", "text"]),
        spark.createDataFrame(bad, ["doc_id", "text"]),
    )


def test_perceptron_separates_disjoint_vocabularies(spark):
    pos, neg = _corpus(spark)
    w = train_quality_classifier(pos, neg, n_buckets=256, iterations=2)
    scored = classifier_score(pos.unionByName(neg), w, n_buckets=256)
    got = {r.doc_id: (r.margin, r.pred) for r in scored.collect()}
    # disjoint vocabularies are linearly separable; one pass suffices
    assert all(got[i][0] > 0 and got[i][1] == 1 for i in range(10))
    assert all(got[100 + i][0] < 0 and got[100 + i][1] == 0 for i in range(10))


def test_empty_and_unseen_docs_are_conservative_rejects(spark):
    pos, neg = _corpus(spark)
    w = train_quality_classifier(pos, neg, n_buckets=256, iterations=1)
    probe = spark.createDataFrame(
        [(1000, ""), (1001, "zxqv wvut entirely unseen vocabulary")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in classifier_score(probe, w, n_buckets=256).collect()}
    assert got[1000].n_feats == 0 and got[1000].margin == 0 and got[1000].pred == 0
    assert got[1001].margin == 0 and got[1001].pred == 0


def test_classifier_matches_duckdb(spark):
    duckdb = pytest.importorskip("duckdb")
    rows = [
        (i, ("alpha beta gamma quality text " if i < 8 else "junk noise filler words ")
            + f"tail {i % 3}")
        for i in range(16)
    ] + [(99, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    oracle = sorted(
        con.execute(
            quality_classifier_sql(
                "documents", "doc_id < 8", "doc_id >= 8", n_buckets=128, iterations=3
            )
        ).fetchall()
    )
    w = train_quality_classifier(
        df.filter(F.col("doc_id") < 8),
        df.filter(F.col("doc_id") >= 8),
        n_buckets=128,
        iterations=3,
    )
    got = sorted(
        (r.doc_id, r.n_feats, r.margin, r.pred)
        for r in classifier_score(df, w, n_buckets=128).collect()
    )
    assert got == oracle


def test_scoring_is_broadcast_no_cartesian(spark):
    pos, neg = _corpus(spark)
    w = train_quality_classifier(pos, neg, n_buckets=256, iterations=1)
    plan = (
        classifier_score(pos, w, n_buckets=256)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_perceptron_label_flip_negates_weights(spark):
    """Swapping pos/neg exactly negates every weight (integer perceptron
    symmetry) — a structural invariant float training wouldn't give."""
    pos, neg = _corpus(spark)
    w1 = {r.b: r.w for r in train_quality_classifier(pos, neg, n_buckets=128, iterations=2).collect()}
    w2 = {r.b: r.w for r in train_quality_classifier(neg, pos, n_buckets=128, iterations=2).collect()}
    assert set(w1) == set(w2)
    assert all(w2[b] == -w for b, w in w1.items())


def test_bigram_features_parity_and_effect(spark):
    """fastText word-bigram feature space: train+score margins stay
    bit-identical to the DuckDB twin, and bigrams actually change the
    learned margins vs the unigram model."""
    duckdb = pytest.importorskip("duckdb")
    from architxt_spark.functions.classifier import (
        classifier_score,
        quality_classifier_sql,
        train_quality_classifier,
    )

    rows = [
        (
            i,
            f"good solid prose with many fine words here number {i}"
            if i % 2
            else f"junk junk junk click here buy now {i}",
        )
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pos, neg = df.filter("doc_id % 2 = 1"), df.filter("doc_id % 2 = 0")

    w = train_quality_classifier(pos, neg, bigrams=True)
    got = {
        r.doc_id: (r.n_feats, r.margin, r.pred)
        for r in classifier_score(df, w, bigrams=True).collect()
    }
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    sql = quality_classifier_sql(
        "documents", "doc_id % 2 = 1", "doc_id % 2 = 0", bigrams=True
    )
    want = {r[0]: (r[1], r[2], r[3]) for r in con.execute(sql).fetchall()}
    assert got == want
    # n_feats grows by the bigram count; margins actually differ
    w0 = train_quality_classifier(pos, neg)
    base = {
        r.doc_id: (r.n_feats, r.margin)
        for r in classifier_score(df, w0).collect()
    }
    assert all(got[k][0] > base[k][0] for k in base)
    assert any(got[k][1] != base[k][1] for k in base)


def test_margin_expr_rejects_bucket_past_n_buckets(spark):
    """A weight row for a bucket the model cannot have fails at the
    driver, naming the bucket and the bucket count."""
    with pytest.raises(ValueError, match=r"bucket 16 .*n_buckets=16"):
        classifier_margin_expr(F.col("text"), [(3, 1), (16, 2)], n_buckets=16)


def test_margin_expr_rejects_negative_bucket(spark):
    """A negative bucket would index the weight array from its end and
    silently overwrite another bucket's weight; it fails instead."""
    with pytest.raises(ValueError, match=r"bucket -1 .*n_buckets=16"):
        classifier_margin_expr(F.col("text"), [(15, 5), (-1, 7)], n_buckets=16)
