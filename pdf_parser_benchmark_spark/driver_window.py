"""Driver correctness-window metadata (ADVICE r4: make the rotation policy
explicit data, not a hand-edited list buried in queries.py).

The external driver's per-round CORRECTNESS gate hashes only the FIRST
``WINDOW_SIZE`` entries of ``queries.QUERIES`` in dict insertion order.  To
give every query a hard driver row at least every other round, queries.py
re-keys its registries at module end using :func:`window_order`, which sorts
by *staleness*: queries never driver-green first, then oldest-last-green
first, registration order as the tie-break.  New queries (absent from
``LAST_GREEN``) therefore go to the front automatically — no per-round list
edit needed.

``LAST_GREEN`` is generated from the CORRECTNESS_r*.json files by
``tools/update_driver_window.py`` (run it once at the start of each round,
after the driver has written the previous round's file).  A query counts as
green if its value hash matched, or — for rows-only-by-design queries — if
the driver recorded a non-empty row count.

Contract doc: tools/DRIVER_WINDOW.md.
"""

from __future__ import annotations

WINDOW_SIZE = 50

# name -> last round with a green driver CORRECTNESS row (generated; do not
# hand-edit — run tools/update_driver_window.py).
LAST_GREEN = {
    "bloom_contamination": 7,
    "bm25_topk": 7,
    "c4_filters": 7,
    "ccitt_decode": 7,
    "cms_topk": 7,
    "contamination_check": 7,
    "crawl_frontier": 7,
    "curation_pipeline": 7,
    "dedup_clusters": 7,
    "dedup_clusters_2p": 7,
    "doc_fingerprint": 7,
    "domain_mix": 7,
    "dup_paragraphs": 7,
    "dup_spans": 7,
    "edu_score": 7,
    "embedding_neardup_rh": 7,
    "exact_quantiles": 7,
    "gopher_rules": 7,
    "hash_embeddings": 7,
    "hll_distinct": 7,
    "host_indegree_all": 7,
    "ivf_recall": 7,
    "ivfpq_topk": 7,
    "jbig2_decode": 7,
    "lang_id": 7,
    "lang_id3": 7,
    "media_refs": 7,
    "minhash_neardup_xx": 7,
    "pagerank": 7,
    "pdf_link_graph": 7,
    "perplexity_tiers": 7,
    "priority_sample": 7,
    "repetition_signals": 7,
    "rerank_blend": 7,
    "robots_filter": 7,
    "robots_txt_gate": 7,
    "script_detect": 7,
    "semdedup": 7,
    "semi_join_customers": 7,
    "sequence_pack": 7,
    "sequence_pack_greedy": 7,
    "sessionize": 7,
    "set_ops_sources": 7,
    "sitemap_frontier": 7,
    "strip_dup_paragraphs": 7,
    "strip_dup_spans": 7,
    "tpch_q1_pricing": 7,
    "tpch_q3_topk": 7,
    "tpch_q5_volume": 7,
    "windowed_event_counts": 7,
    "adaptive_retry_topk": 5,
    "ann_ivf_kmeans_topk": 5,
    "ann_ivf_topk": 5,
    "anti_join_resume": 5,
    "approx_distinct_users": 5,
    "audio_rms": 5,
    "best_second_gap": 5,
    "boilerplate_lines": 5,
    "boilerplate_strip": 5,
    "cache_key": 5,
    "chunk_type_map": 5,
    "crawl_loop": 5,
    "dedup_exact": 5,
    "distinct_sources": 5,
    "embedding_neardup": 5,
    "empty_filter": 5,
    "filename_meta": 5,
    "fuzzy_title_join": 5,
    "greedy_dedup": 5,
    "hierarchy_propagation": 5,
    "host_indegree": 5,
    "jaccard_neardup": 5,
    "jaccard_title_join": 5,
    "jpeg_decode": 5,
    "knn_join": 5,
    "link_graph": 5,
    "lsh_candidates": 5,
    "manifest_equi_join": 5,
    "max_score_gate": 5,
    "metadata_filter": 5,
    "minhash_neardup": 5,
    "minhash_signature": 5,
    "nfkd_fold": 5,
    "normalize_title": 5,
    "opq_topk": 5,
    "pdf_images": 5,
    "pq_topk": 5,
    "pq_topk_lut": 5,
    "quality_scores": 5,
    "rag_retrieval": 5,
    "repro_extract": 5,
    "simhash_fingerprint": 5,
    "simhash_neardup": 5,
    "snapshot_diff": 5,
    "stratified_sample": 5,
    "summary_agg": 5,
    "token_counts": 5,
    "topk_cosine": 5,
    "topk_per_group": 5,
    "two_path_union": 5,
    "count_distinct_orders": 4,
    "excerpts": 4,
    "extract_digest": 4,
    "extract_pipeline": 4,
    "frame_sample": 4,
    "hash_sample": 4,
    "median_value_by_type": 4,
    "multimodal_decode": 4,
    "ngram_topk": 4,
    "pii_redact": 4,
    "pivot_status_qty": 4,
    "rollup_revenue": 4,
    "salted_agg": 4,
    "salted_join": 4,
    "sql_api_pricing": 4,
    "sql_api_topk": 4,
    "tpch_q10_returns": 4,
    "tpch_q4_priority": 4,
    "tpch_q6_forecast": 4,
    "url_canonicalize": 4,
    "url_dedup": 4,
}


def window_order(names):
    """Return *names* sorted staleness-first for the driver window.

    Never-green / new queries first (LAST_GREEN default 0), then ascending
    last-green round; registration order breaks ties so the ordering is
    deterministic across processes.
    """
    order = {n: i for i, n in enumerate(names)}
    return sorted(names, key=lambda n: (LAST_GREEN.get(n, 0), order[n]))
