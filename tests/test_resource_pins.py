"""Cache and job-count pins for the pair generators and the rewrite loop.

Job counts are deterministic at a fixed conf and core count (the test
session is ``get_spark`` on four cores), so a change that adds a corpus
pass, a scratch cache or a shuffle fails here whatever the host load.
"""

import os

import pytest


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")  # 500 documents
    return spark.read.parquet(f"{sf01}/documents.parquet")


def _generators():
    from architxt_spark.functions import dedup as D

    return {
        "minhash_lsh_pairs": D.minhash_lsh_pairs,
        "ngram_jaccard_pairs": D.ngram_jaccard_pairs,
        "winnow_pairs": D.winnow_pairs,
        "exact_span_pairs": D.exact_span_pairs,
    }


@pytest.mark.parametrize("name", sorted(_generators()))
def test_pair_generator_leaves_no_cache(spark, docs, name):
    """Every cache a pair generator takes for itself is released before it
    returns: the session's ``CacheManager`` is empty afterwards."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    _generators()[name](docs, "text", "doc_id").count()
    assert cache.isEmpty(), name


@pytest.mark.parametrize(
    "name, jobs", [("ngram_jaccard_pairs", 22), ("winnow_pairs", 13)]
)
def test_pair_generator_job_count(docs, count_jobs, name, jobs):
    assert count_jobs(lambda: _generators()[name](docs, "text", "doc_id").count()) == jobs


def _forest(spark):
    from architxt_spark.trees import PyTree, forest_from_trees

    trees = {}
    for i in range(40):
        kids = [PyTree("X", [PyTree("ENT::a", [f"v{i % 5}"]), PyTree("ENT::b", ["w"])])]
        if i % 2:
            kids.append(PyTree("Y", [PyTree("ENT::c", [f"c{i % 3}"]), PyTree("ENT::d", ["d"])]))
        if i % 3 == 0:
            kids.append(PyTree("Z", [PyTree("ENT::a", ["z"]), PyTree("ENT::c", ["q"])]))
        trees[f"t{i}"] = PyTree("ROOT", kids)
    return forest_from_trees(spark, trees)


def test_rewrite_job_count(spark, count_jobs):
    """The loop opens straight into its first reduce pass: every per-tree
    pass shuffles through ``session.tree_buckets`` on its own, so no
    up-front ``tree_id`` repartition or barrier runs."""
    from architxt_spark.operators.engine import rewrite

    forest = _forest(spark)
    assert count_jobs(lambda: rewrite(forest)) == 31
