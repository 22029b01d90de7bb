"""The query registry: every catalog row as a ``(spark, sf_dir) →
DataFrame`` builder (``QUERIES``) and its DuckDB oracle SQL
(``ORACLES``), assembled from the family modules in ``catalog``.  The
cross-engine conventions every oracle follows are in ``catalog``'s
docstring.
"""

from __future__ import annotations

from .catalog import (
    core,
    corpus,
    dedup,
    embeddings,
    events,
    ml,
    pq,
    sources,
    text,
    tpch,
    warehouse,
)

FAMILIES = (core, tpch, warehouse, events, sources, text, dedup, embeddings,
            pq, corpus, ml)

# The external correctness driver records the first 50 rows of
# ``queries()`` each round; these lead the catalog in this order, and
# every other row follows in family order.
DRIVER_WINDOW = [
    "pricing_grouping_sets",
    "pysource_scan",
    "tpch_q8_share",
    "tpch_q9_profit",
    "tpch_q11_important",
    "tpch_q12_priority",
    "tpch_q14_promo",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_cnt",
    "dedup_ngram_containment",
    "corpus_epoch_upsample",
    "corpus_ccnet_buckets",
    "corpus_bpe_budget",
    "corpus_bpe_pack",
    "corpus_dedup_report",
    "corpus_dsir_resample",
    "corpus_dsir_select",
    "corpus_keep_best",
    "corpus_keep_best_pairs",
    "dedup_lsh_recall_report",
    "dedup_ngram_capped",
    "dedup_ngram_jaccard",
    "doc_bigram_perplexity",
    "corpus_pack_sequences",
    "corpus_profile",
    "corpus_source_quota",
    "corpus_temperature_sample",
    "corpus_weighted_sample",
    "dedup_clusters",
    "dedup_incremental",
    "dedup_semdedup",
    "dedup_simhash64_pairs",
    "dedup_simhash_pairs",
    "doc_bm25_topk",
    "doc_dup_span_fraction",
    "doc_string_funcs",
    "docs_compaction",
    "docs_schema_evolution",
    "docs_stream_dedup_verified",
    "emb_ivf_recall_report",
    "emb_ivfpq_append_topk",
    "emb_ivfpq_recall_report",
    "emb_pq_refine_recall_report",
    "emb_pq_refine_topk",
    "events_anomaly_mad",
    "events_approx_stats",
    "events_ewma",
    "events_first_last_touch",
    "events_hll_merge",
    "events_incremental_agg",
]

_ALL = {name: fn for fam in FAMILIES for name, fn in fam.QUERIES.items()}
QUERIES = {name: _ALL[name] for name in DRIVER_WINDOW} | _ALL
ORACLES = {name: sql for fam in FAMILIES for name, sql in fam.ORACLES.items()}
