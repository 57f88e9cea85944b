"""Driver-contract invariants for __spark_entry__.py."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_registry_oracle_alignment():
    """Every queries() entry must have an oracle_sql() twin and vice
    versa — a new operator can't silently land without its gate."""
    import __spark_entry__ as E

    q, o = E.queries(), E.oracle_sql()
    assert set(q) == set(o), (
        f"missing oracles: {sorted(set(q) - set(o))}; "
        f"orphan oracles: {sorted(set(o) - set(q))}"
    )


def test_rotation_prefix_is_valid_and_first():
    """The rotation prefix must reference real queries and actually lead
    the registry ordering (the driver gates roughly the first 50)."""
    import __spark_entry__ as E

    q = E.queries()
    allq = E._all_queries()
    names = list(q)
    assert set(names) == set(allq)
    # entries whose executed code changed this round lead (one rewrite
    # loop path, llm_rewrite through tree_buckets, clean_unicode without
    # its normalizer hook), then last round's (one owner per cached frame
    # on the dedup, curation, classifier, graph, clustering, media and
    # streaming paths; the WARC split resync), in this order
    touched = (
        "rewrite_documents", "llm_rewrite_stub", "unicode_split",
        "dedup_pairs", "dedup_filtered", "dedup_exact_spans",
        "dedup_components", "contamination_screen", "curation_pipeline",
        "crawl_to_corpus", "quality_classifier", "graph_extract",
        "cluster_documents", "cluster_instance_documents",
        "multimodal_dedup", "crawl_media_dedup", "stream_minhash_dedup",
        "stream_curate", "warc_split_roundtrip",
    )
    for i, k in enumerate(touched):
        assert names.index(k) == i, k
    # then ALL 36 entries whose newest driver verdict is r14 (PERF_r15
    # queries_dropped) — the <=2-round rotation contract
    stale_r14 = (
        "ann_recall", "ann_suite", "bm25_topk", "cluster_documents",
        "cluster_instance_documents", "collocations", "corpus_health",
        "coverage_metric", "dedup_exact_spans", "dedup_simhash",
        "distinct_parts_per_brand", "doc_loader_files",
        "doc_loader_json_props", "domain_profile", "events_sessionize",
        "extract_valid_trees", "join_filtered_customers", "llm_label_schema",
        "metrics_customer", "multimodal_dedup", "multimodal_profile",
        "ngram_stats", "percentile_orders", "random_project",
        "rewrite_documents", "sampling_pack", "sampling_temperature",
        "sampling_weighted", "semantic_dedup",
        "setop_nations_cust_minus_supp", "sort_limit_top_orders",
        "stream_url_seen", "tfidf_terms", "tree_leaves_nation",
        "typed_export_orders", "warc_split_roundtrip",
    )
    assert len(set(touched) | set(stale_r14)) == 49
    for k in stale_r14:
        assert names.index(k) < 49, k
    # folded-away entries must be GONE (their coverage lives in the folds)
    for gone in ("ann_topk", "ann_ivf_topk", "ann_pq_adc", "window_orders",
                 "grouping_orders", "corpus_report", "corpus_drift",
                 "string_funcs_parts", "date_math_orders", "json_props_events",
                 "gopher_quality_flags", "doc_fingerprint_winnow",
                 "bpe_tokenizer", "bpe_train_merges",
                 "funnel_signup_view_purchase", "retention_cohorts",
                 "export_sql_ddl", "export_cypher_stats", "asof_events",
                 "range_join_signup_clicks", "dedup_ngram_jaccard",
                 "dedup_minhash_lsh", "stream_fm_distinct"):
        assert gone not in allq, gone
