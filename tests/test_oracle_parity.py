"""The main correctness gate, run exactly the way the driver runs it:
every query with an oracle is executed on Spark and DuckDB at sf0.01 and
compared order-insensitively (row count + columns + values)."""

from __future__ import annotations

import pytest

from recommendation_translation_spark.queries import ORACLES, QUERIES

from .conftest import SF_ORACLE
from .oracle_utils import compare

ORACLE_QUERIES = sorted(ORACLES)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, duck, name):
    spark_df = QUERIES[name](spark, SF_ORACLE)
    duck_rel = duck.sql(ORACLES[name])
    ok, msg = compare(spark_df, duck_rel)
    assert ok, f"{name}: {msg}"


# Queries with no SQL oracle (driver records rows-only checks).  The
# canonical allowlist WITH per-query reasons lives in
# test_catalog_contract.ROWS_ONLY — shared so the two can't drift.
from .test_catalog_contract import ROWS_ONLY

NO_ORACLE = set(ROWS_ONLY)


def test_all_queries_have_oracle_or_are_ml():
    missing = set(QUERIES) - set(ORACLES)
    assert missing == NO_ORACLE, missing


# Queries whose parity is sensitive to the DATA (rounding-tie
# interpolation fractions, sketch-vs-exact bound flags, fixed-point
# running sums): also check them at sf0.001, a second distribution —
# the round-5 sweep found two sf0.001-only divergences (a 10.63375
# round-half tie in the interpolator and a sparse-tail p99 flag) that
# sf0.01 alone never exercises.
CROSS_SF_SENSITIVE = [
    # round-11 curation additions: scores / divergences / the top-k
    # boundary are all data-distribution dependent
    "corpus_dsir_select",
    "corpus_shard_divergence",
    "events_resample_interp",
    "events_approx_stats",
    "events_sketch_stats",
    "events_hll_merge",
    "doc_heavy_hitters",
    "supplier_pareto",
    "events_ewma",
    "part_pagerank",
    "customer_rfm",
    # round-5 late additions whose values depend on the data
    # distribution (files-hit clustering bound, recall curve, gram
    # overlap, chain lengths, cluster geometry) — both distributions
    "lineitem_zorder_pruning",
    "emb_ivf_recall_report",
    "doc_dup_span_fraction",
    "orders_capped_balance",
    "dedup_semdedup",
    # the one-sided-key NULL structure (users with no events) differs
    # sharply between distributions
    "events_orders_cogroup",
    # round-6 ML graduations: the invariant flags (RMSE envelope,
    # k-means cost bound, AUC floor) and the dense-vs-sparse
    # exists-matrix branch of ml_score_topk are data-distribution
    # dependent — sf0.001 is the sparse branch sf0.01 never exercises
    "ml_train_rmse",
    "ml_score_topk",
    "emb_kmeans_centroids",
    "doc_quality_classifier",
    "ml_als_recs",
    # round-6 additions: span lengths straddle the 50-token floor
    # differently per distribution; the e2e pipeline trains/scores on
    # a different missingness pattern per SF
    "doc_dup_span_maximal",
    "pipeline_e2e_score",
    # round-7: the PQ train report's per-subspace k-means cost-bound
    # flags are distribution-dependent (same class as
    # emb_kmeans_centroids); the hash-exact PQ search rides along so
    # the deterministic-codebook mirror is exercised on both
    # distributions too
    "emb_pq_train_report",
    "emb_pq_topk",
    # round-9: recall counts, short-list membership, candidate sets and
    # verified-dup counts are all functions of the data distribution
    # (sf0.001's 500-doc / 300-vector corpus exercises sparser bucket
    # and tie structure than sf0.01) — verified green on both
    # distributions when added
    "emb_ivfpq_recall_report",
    "emb_pq_refine_topk",
    "emb_pq_refine_recall_report",
    "emb_ivfpq_append_topk",
    "docs_stream_dedup_verified",
]

from .conftest import SF_SMALL  # noqa: E402


@pytest.mark.parametrize("name", CROSS_SF_SENSITIVE)
def test_oracle_parity_second_distribution(spark, duck_small, name):
    ok, msg = compare(QUERIES[name](spark, SF_SMALL), duck_small.sql(ORACLES[name]))
    assert ok, f"{name} @ sf0.001: {msg}"


# Rows whose builders consult the shared collapse dial
# (sources.readers.collapse_dial).  No test scale reaches the dial's
# row gate (COLLAPSE_MIN_ROWS documents), so the dial is forced on
# here: each row's collapse branch must meet the same oracle as the
# direct branch the other parity tests take.
COLLAPSE_CONSUMERS = [
    "corpus_bpe_budget",
    "corpus_bpe_pack",
    "corpus_ccnet_buckets",
    "corpus_dedup_report",
    "corpus_dsir_resample",
    "corpus_dsir_select",
    "corpus_keep_best",
    "corpus_keep_best_pairs",
    "dedup_lsh_recall_report",
    "dedup_ngram_capped",
    "dedup_ngram_containment",
    "dedup_ngram_jaccard",
    "doc_bigram_perplexity",
]


@pytest.mark.parametrize("name", COLLAPSE_CONSUMERS)
def test_oracle_parity_collapse_branch(spark, duck_small, monkeypatch, name):
    from recommendation_translation_spark.catalog import corpus, dedup, text

    consulted = []

    def collapse_on(spark, sf_dir):
        consulted.append(sf_dir)
        return True

    for module in (corpus, dedup, text):
        monkeypatch.setattr(module, "collapse_dial", collapse_on)
    spark_df = QUERIES[name](spark, SF_SMALL)
    assert consulted, f"{name} never consulted the collapse dial"
    ok, msg = compare(spark_df, duck_small.sql(ORACLES[name]))
    assert ok, f"{name} (collapse branch) @ sf0.001: {msg}"
