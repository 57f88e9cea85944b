"""Cache and job-count pins for the pair generators, the curation
pipeline and the rewrite loop.

Job counts are deterministic at a fixed conf and core count (the test
session is ``get_spark`` on four cores), so a change that adds a corpus
pass, a scratch cache or a shuffle fails here whatever the host load.
"""

import os

import pytest


@pytest.fixture(scope="module")
def sf01(sf_dir):
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")  # 500 documents


@pytest.fixture(scope="module")
def docs(spark, sf01):
    return spark.read.parquet(f"{sf01}/documents.parquet")


def _generators():
    from architxt_spark.functions import dedup as D

    return {
        "minhash_lsh_pairs": D.minhash_lsh_pairs,
        "ngram_jaccard_pairs": D.ngram_jaccard_pairs,
        "winnow_pairs": D.winnow_pairs,
        "exact_span_pairs": D.exact_span_pairs,
    }


@pytest.fixture
def cache(spark):
    """The session's ``CacheManager``, emptied before the test runs."""
    spark.catalog.clearCache()
    return spark._jsparkSession.sharedState().cacheManager()


@pytest.mark.parametrize("name", sorted(_generators()))
def test_pair_generator_leaves_no_cache(cache, docs, name):
    """Every cache a pair generator takes for itself is released before it
    returns: the session's ``CacheManager`` is empty afterwards."""
    _generators()[name](docs, "text", "doc_id").count()
    assert cache.isEmpty(), name


def _bench(docs):
    return docs.filter(docs.doc_id % 23 == 5).select("doc_id", "text")


def _curate(docs, decontaminate: bool):
    from architxt_spark.functions.curation import curate_corpus

    kept, census = curate_corpus(
        docs, decontaminate_against=_bench(docs) if decontaminate else None
    )
    kept.count()
    census.collect()


def _dedup_filter(spark, docs, sf01):
    from architxt_spark.functions.dedup import dedup_filter

    dedup_filter(docs, "text", "doc_id").count()


def _decontaminate(spark, docs, sf01):
    from architxt_spark.functions.dedup import decontaminate_drop_ids

    decontaminate_drop_ids(docs, _bench(docs), "text", "doc_id").count()


def _classifier(spark, docs, sf01):
    from architxt_spark.functions.classifier import train_quality_classifier

    pos = docs.filter(docs.doc_id % 2 == 0)
    neg = docs.filter(docs.doc_id % 2 == 1)
    train_quality_classifier(pos, neg, n_buckets=256, iterations=2).count()


def _clusters(spark, docs, sf01):
    from architxt_spark.similarity import cluster_forest_with_index

    cluster_forest_with_index(_forest(spark))[0].count()


def _graph(spark, docs, sf01):
    from architxt_spark.sources.graph import read_graph

    nodes = spark.createDataFrame(
        [(c, c.upper(), str(i)) for i, c in enumerate("abcde")],
        "id string, label string, name string",
    )
    rels = spark.createDataFrame(
        [("a", "b", "T"), ("b", "c", "T"), ("a", "d", "S"), ("d", "e", "T")],
        "src string, dst string, rel_type string",
    )
    read_graph(nodes, rels).count()


def _dedup_pairs_query(spark, docs, sf01):
    import __spark_entry__ as E

    E.q_dedup_pairs(spark, sf01).count()


_CALLS = {
    "curate_corpus": lambda spark, docs, sf01: _curate(docs, decontaminate=False),
    "curate_corpus_decontaminated": lambda spark, docs, sf01: _curate(docs, decontaminate=True),
    "dedup_filter": _dedup_filter,
    "decontaminate_drop_ids": _decontaminate,
    "train_quality_classifier": _classifier,
    "cluster_forest_with_index": _clusters,
    "read_graph": _graph,
    "q_dedup_pairs": _dedup_pairs_query,
}


@pytest.mark.parametrize("name", sorted(_CALLS))
def test_call_leaves_no_cache(spark, cache, docs, sf01, name):
    """Scratch frames are ``held`` and frames that leave a function are
    landed by ``stage_barrier``, so no call leaves a cached frame behind."""
    _CALLS[name](spark, docs, sf01)
    assert cache.isEmpty(), name


def test_held_releases_when_body_raises(spark, cache):
    from architxt_spark.session import held

    df = spark.range(10)
    with pytest.raises(RuntimeError, match="body failed"):
        with held(df):
            df.count()
            assert not cache.isEmpty()
            raise RuntimeError("body failed")
    assert cache.isEmpty()


@pytest.mark.parametrize("decontaminate, jobs", [(False, 24), (True, 40)])
def test_curate_corpus_job_count(docs, count_jobs, decontaminate, jobs):
    """The curation pipeline on 500 documents, with and without the
    decontamination stage: the dedup keep-set, the signature frame and
    the benchmark signatures each land once, as barriers."""
    assert count_jobs(lambda: _curate(docs, decontaminate)) == jobs


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


def test_rewrite_callback_job_count(spark, count_jobs):
    """``on_iteration`` adds one census aggregation per iteration (4
    jobs each here) and nothing else: the chain stays deferred, so no
    extra pass lands (3 iterations; 31 jobs without the callback)."""
    from architxt_spark.operators.engine import rewrite

    forest = _forest(spark)
    log: list[dict] = []
    assert count_jobs(lambda: rewrite(forest, on_iteration=log.append)) == 43
    assert len(log) == 3
