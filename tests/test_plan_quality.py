"""Physical-plan assertions (SURVEY.md §4) — the scale contract.

Correctness says the operators compute the right relation; these tests
pin HOW: filters reach the parquet scan, small dimensions broadcast,
whole-stage codegen covers the hot path, and shuffle counts stay at the
algorithmic floor.  A regression here is a 100-TB performance bug even
when sf0.01 results still match.
"""

from __future__ import annotations

import ast
import inspect
import re
import textwrap

import pytest
from pyspark.sql import functions as F

from recommendation_translation_spark.plans.checks import (
    assert_whole_stage_codegen,
    assert_broadcast_join,
    assert_pushed_filters,
    count_exchanges,
    physical_plan,
)
from recommendation_translation_spark.catalog.core import long_table
from recommendation_translation_spark.queries import QUERIES

from .conftest import SF_SMALL


def test_pricing_summary_pushdown_and_codegen(spark):
    df = QUERIES["pricing_summary"](spark, SF_SMALL)
    # shipdate predicate must reach the parquet reader
    assert_pushed_filters(df, "l_shipdate")
    assert_whole_stage_codegen(df)
    # scan must prune to the referenced columns, not read all 16
    assert "l_comment" not in physical_plan(df)


def test_suffix_filter_pushdown(spark):
    df = QUERIES["suffix_filter_rewrite"](spark, SF_SMALL)
    assert_pushed_filters(df, "EndsWith(p_type")


def test_ingest_join_broadcasts_dims(spark):
    df = QUERIES["ingest_join"](spark, SF_SMALL)
    # customer, nation, region all broadcast: the orders fact side is
    # never shuffled for the joins — only the final agg exchanges.
    assert_broadcast_join(df, at_least=3)
    assert count_exchanges(df) <= 1


def test_pricing_summary_single_shuffle(spark):
    df = QUERIES["pricing_summary"](spark, SF_SMALL)
    assert count_exchanges(df) == 1


def test_rank_uses_two_shuffles(spark):
    # groupBy (site,id) then window by site: 2 exchanges is the floor
    # for the windowed formulation.
    df = QUERIES["rank_normalized"](spark, SF_SMALL)
    assert count_exchanges(df) <= 2


def test_exact_dedup_single_shuffle(spark):
    df = QUERIES["dedup_exact"](spark, SF_SMALL)
    assert count_exchanges(df) == 1
    plan = physical_plan(df)
    # the groupBy must run on the digest, not ship document bodies
    assert "partial_min" in plan or "HashAggregate" in plan


def test_minhash_signature_single_aggregation(spark):
    from recommendation_translation_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    sigs = minhash_signatures(docs, k=16)
    # k min-aggregates in ONE groupBy: one agg exchange plus the
    # pre-explode spread repartition (word_shingles) — never a k-fold
    # explode of the shuffle.
    assert count_exchanges(sigs) == 2


def test_events_tumbling_single_shuffle(spark):
    df = QUERIES["events_tumbling"](spark, SF_SMALL)
    assert count_exchanges(df) == 1


def test_long_table_partial_aggregation(spark):
    # map-side combine before the shuffle: two HashAggregates around
    # one Exchange.
    lt = long_table(spark, SF_SMALL)
    plan = physical_plan(lt)
    assert plan.count("HashAggregate") >= 2
    assert count_exchanges(lt) == 1


def test_broadcast_threshold_respected(spark):
    # a dim joined WITHOUT explicit broadcast still broadcasts under AQE
    # / size estimation at this scale — guard that autoBroadcast stays on.
    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    customer = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    j = customer.join(nation, customer.c_nationkey == nation.n_nationkey)
    assert "BroadcastHashJoin" in physical_plan(j, mode="simple")


def test_feature_pivot_two_shuffles(spark):
    # long_table agg + pivot groupBy(id): floor is 2 exchanges
    # (site,id) → (id).  The window rank rides the second.
    #
    # The graduated ML queries cache the feature matrix (same pivot
    # lineage, queries._ML_CACHE); Spark then substitutes the cached
    # subtree here and the plan string prints the InMemoryRelation's
    # OWN exchanges inside InMemoryTableScan, double-counting the
    # floor (3 → 6) whenever an ml_* parity test ran first in the
    # shared session.  Unpersist so the floor is asserted on the real
    # from-scratch plan, order-independently.
    from recommendation_translation_spark.catalog import ml as _q

    for feats, _models in _q._ML_CACHE.values():
        feats.unpersist()
    try:
        df = QUERIES["feature_pivot"](spark, SF_SMALL)
        n = count_exchanges(df)
    finally:
        # restore the cache marking (lazily re-materialized on the next
        # ML action) so later ml_* tests in the session keep the shared
        # cached matrix _trained() exists to provide
        for feats, _models in _q._ML_CACHE.values():
            feats.cache()
    assert n <= 3


def test_scan_prunes_columns(spark):
    df = long_table(spark, SF_SMALL)
    plan = physical_plan(df)
    # ReadSchema must carry only the 3 referenced lineitem columns
    for col in ("l_quantity", "l_shipdate", "l_comment", "l_orderkey"):
        assert col not in plan, f"column {col} not pruned from scan"


def test_filter_before_join_pushdown(spark):
    # a filter written AFTER a join must still reach the scan
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    customer = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    j = orders.join(customer, orders.o_custkey == customer.c_custkey).filter(
        F.col("o_totalprice") > 1000.0
    )
    assert_pushed_filters(j, "o_totalprice")


# ---------------------------------------------------------------------------
# temporal joins + TPC-H shapes + curation (operators.joins / .curation)
# ---------------------------------------------------------------------------


def test_asof_join_no_join_blowup(spark):
    # union+window formulation: NO join operator at all — the as-of
    # match rides a single window sort; floor is 2 exchanges (the
    # right-side (user,ts) dedup window + the union window by user).
    df = QUERIES["events_asof_join"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # it's a window, not a join
    assert count_exchanges(df) <= 2


def test_range_join_is_equi_join(spark):
    # bucketed range join must plan as a hash/sort-merge EQUI join on
    # (key, bucket) — never a nested-loop theta join, whose cost is the
    # per-key cross product.
    df = QUERIES["events_range_join"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert_pushed_filters(df, "event_type")


def test_tpch_q3_pushdown(spark):
    # all three dimension/fact filters must reach their parquet scans
    df = QUERIES["tpch_q3_shipping"](spark, SF_SMALL)
    assert_pushed_filters(df, "c_mktsegment", "l_shipdate", "o_orderdate")


def test_tpch_q5_broadcasts_bounded_dims(spark):
    # region + nation are broadcast by hint (domain-bounded at any SF);
    # customer broadcasts at this scale via size estimation.
    df = QUERIES["tpch_q5_regional"](spark, SF_SMALL)
    assert_broadcast_join(df, at_least=2)
    assert_pushed_filters(df, "r_name", "o_orderdate")


def test_quality_flags_zero_shuffle(spark):
    # per-document metrics are embarrassingly parallel: NO exchange.
    df = QUERIES["doc_quality_flags"](spark, SF_SMALL)
    assert count_exchanges(df) == 0
    assert_whole_stage_codegen(df)


def test_pii_redact_zero_shuffle(spark):
    df = QUERIES["doc_pii_redact"](spark, SF_SMALL)
    assert count_exchanges(df) == 0


def test_hash_split_single_shuffle(spark):
    # only the final per-split count aggregates; the assignment itself
    # is a pure projection.
    df = QUERIES["corpus_hash_split"](spark, SF_SMALL)
    assert count_exchanges(df) == 1


# ---------------------------------------------------------------------------
# storage-layout contracts: partition pruning + bucketed co-located joins
# ---------------------------------------------------------------------------


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    from recommendation_translation_spark.sources.writers import write_parquet

    lt = long_table(spark, SF_SMALL)
    path = str(tmp_path / "long_by_site")
    write_parquet(lt, path, partition_by=["site"])
    rd = spark.read.parquet(path).filter(F.col("site") == "A")
    plan = physical_plan(rd)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    # the site predicate must prune at partition-listing time, never
    # reach row-level filtering, and the scan must not read `site` data
    assert pf and "site" in pf[0], plan
    assert rd.count() > 0


def test_bucketed_join_zero_exchange(spark, tmp_path):
    from recommendation_translation_spark.sources.writers import write_bucketed_table

    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_custkey", "o_totalprice"
    )
    write_bucketed_table(cust, "t_cust_b", ["c_custkey"], 8,
                         sort_cols=["c_custkey"], path=str(tmp_path / "c"))
    write_bucketed_table(orders, "t_ord_b", ["o_custkey"], 8,
                         sort_cols=["o_custkey"], path=str(tmp_path / "o"))
    try:
        tc, to = spark.table("t_cust_b"), spark.table("t_ord_b")
        j = tc.hint("merge").join(to, tc["c_custkey"] == to["o_custkey"])
        # both sides pre-hashed into matching buckets: the sort-merge
        # join consumes them with NO shuffle (the 100-TB fact-join plan)
        assert count_exchanges(j) == 0, physical_plan(j, mode="simple")
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cust_b")
        spark.sql("DROP TABLE IF EXISTS t_ord_b")


def test_lineitem_stats_single_shuffle(spark):
    # four statistical aggregates in ONE pass: partial aggregation
    # map-side, a single exchange on the group key.
    df = QUERIES["lineitem_stats"](spark, SF_SMALL)
    assert count_exchanges(df) == 1


def test_pricing_rollup_single_expand_pass(spark):
    # ROLLUP = Expand + one aggregate, not one scan per grouping set
    df = QUERIES["pricing_rollup"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert plan.count("Expand") == 1
    assert count_exchanges(df) == 1
    assert_pushed_filters(df, "l_shipdate")


def test_semi_anti_no_nested_loop(spark):
    df = QUERIES["customer_semi_anti"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_user_lag_two_partitioned_windows(spark):
    # both window families are partitioned — a global ORDER BY window
    # (single reducer) must never appear.
    df = QUERIES["events_user_lag"](spark, SF_SMALL)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan
    assert count_exchanges(df) <= 2


def test_topk_uses_take_ordered(spark):
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    # top-k + driver merge), never a global sort of all rows.
    df = QUERIES["tpch_q3_shipping"](spark, SF_SMALL)
    assert "TakeOrderedAndProject" in physical_plan(df, mode="simple")


def test_q6_predicates_all_pushed(spark):
    # every Q6 predicate is a native expr → all reach the parquet scan
    df = QUERIES["tpch_q6_forecast"](spark, SF_SMALL)
    assert_pushed_filters(df, "l_shipdate", "l_discount", "l_quantity")
    assert count_exchanges(df) == 1  # single-row global agg


def test_q14_broadcasts_part_single_shuffle(spark):
    df = QUERIES["tpch_q14_promo"](spark, SF_SMALL)
    assert_broadcast_join(df, at_least=1)
    assert count_exchanges(df) == 1  # only the month-keyed agg


def test_q18_filters_before_join_and_broadcasts(spark):
    # the HAVING-filtered orderkey set must broadcast into the joins
    df = QUERIES["tpch_q18_bigorders"](spark, SF_SMALL)
    assert_broadcast_join(df, at_least=1)
    assert "TakeOrderedAndProject" in physical_plan(df, mode="simple")


def test_q22_anti_join_no_nested_loop(spark):
    # NOT EXISTS → LeftAnti hash join; the scalar avg is a 1-row
    # broadcast, never a driver collect or a nested-loop compare
    df = QUERIES["tpch_q22_acctbal"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_cube_single_expand_pass(spark):
    # CUBE = one Expand (4 grouping sets) + one aggregate, one shuffle
    df = QUERIES["pricing_cube"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert plan.count("Expand") == 1
    assert count_exchanges(df) == 1
    assert_pushed_filters(df, "l_shipdate")


def test_orders_above_avg_single_window_shuffle(spark):
    # decorrelated correlated subquery: one exchange on custkey, both
    # window aggregates share it; no self-join appears
    df = QUERIES["orders_above_cust_avg"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert count_exchanges(df) == 1


def test_q13_left_join_keeps_orderless_customers(spark):
    df = QUERIES["tpch_q13_custdist"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_resample_grid_is_distributed_and_partitioned(spark):
    # the dense grid comes from sequence+explode on executors (no
    # driver date loop → no LocalTableScan of materialized rows), and
    # the forward-fill window is per-type (never a global sort)
    df = QUERIES["events_resample_ffill"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "Generate explode" in plan or "Generate" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_unpivot_adds_no_shuffle(spark):
    # stack() is row-local expansion — the wide→long direction must not
    # add a single exchange beyond what building the wide matrix costs
    wide = QUERIES["feature_pivot"](spark, SF_SMALL)
    long_ = QUERIES["feature_unpivot"](spark, SF_SMALL)
    assert count_exchanges(long_) == count_exchanges(wide)


def test_merge_single_join_no_cartesian(spark):
    df = QUERIES["customer_balance_merge"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "FullOuter" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_sql_frontend_plans_like_dataframe(spark):
    # the same query text through spark.sql must produce the same
    # physical shape as the DataFrame form: pushdown intact, same
    # shuffle count — the frontend is syntax, not a different engine
    a = QUERIES["pricing_summary"](spark, SF_SMALL)
    b = QUERIES["pricing_summary_sql"](spark, SF_SMALL)
    assert count_exchanges(b) == count_exchanges(a)
    assert_pushed_filters(b, "l_shipdate")


def test_q2_window_min_not_join_back(spark):
    # the correlated MIN decorrelates into a window over l_partkey —
    # no self-join of the offers relation, no nested loop; the size
    # predicate reaches the part scan
    df = QUERIES["tpch_q2_min_cost"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert_pushed_filters(df, "p_size", "r_name")
    assert "TakeOrderedAndProject" in plan


def test_q4_exists_is_semi_join(spark):
    # EXISTS must plan as LeftSemi (ships 2 narrow columns), with the
    # order-date range pruning the orders scan
    df = QUERIES["tpch_q4_priority"](spark, SF_SMALL)
    assert "LeftSemi" in physical_plan(df, mode="simple")
    assert_pushed_filters(df, "o_orderdate")


def test_q7_broadcasts_both_nation_copies(spark):
    # nation joins twice (supplier + customer side); both copies are
    # bounded-domain broadcasts, pre-filtered to the two nations
    df = QUERIES["tpch_q7_volume"](spark, SF_SMALL)
    assert_broadcast_join(df, at_least=2)
    assert_pushed_filters(df, "l_shipdate", "n_name")


def test_q8_share_single_agg_pass(spark):
    # numerator and denominator are one conditional-sum aggregate —
    # the relation is scanned/joined once, never self-joined
    df = QUERIES["tpch_q8_share"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert_broadcast_join(df, at_least=2)
    assert_pushed_filters(df, "p_type", "o_orderdate")


def test_q9_broadcasts_nation(spark):
    df = QUERIES["tpch_q9_profit"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert_broadcast_join(df, at_least=1)


def test_q11_semi_join_and_scalar_broadcast(spark):
    # ASIA-supplier membership is a LeftSemi; the global total is a
    # 1-row broadcast (BroadcastNestedLoopJoin on one row is fine —
    # a shuffled or driver-side total is not)
    df = QUERIES["tpch_q11_important"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "LeftSemi" in plan
    assert_pushed_filters(df, "r_name")


def test_q12_pushes_date_range(spark):
    df = QUERIES["tpch_q12_priority"](spark, SF_SMALL)
    assert_pushed_filters(df, "l_shipdate")
    plan = physical_plan(df, mode="simple")
    assert "CartesianProduct" not in plan


def test_q15_max_is_broadcast_not_collect(spark):
    # the MAX scalar joins as a 1-row broadcast; revenue aggregates
    # with map-side partials (two HashAggregates around the exchange)
    df = QUERIES["tpch_q15_top_supplier"](spark, SF_SMALL)
    plan = physical_plan(df)
    assert_pushed_filters(df, "l_shipdate")
    assert plan.count("HashAggregate") >= 2


def test_q16_not_in_is_anti_join(spark):
    # NOT IN (tiny flagged-supplier set) must be a broadcast LeftAnti,
    # with brand/type/size predicates reaching the part scan
    df = QUERIES["tpch_q16_supplier_cnt"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert_pushed_filters(df, "p_brand", "p_size")


def test_q17_decorrelated_avg_broadcasts_back(spark):
    # the per-part AVG subquery joins back as a broadcast (aggregated
    # side is |parts-of-brand| rows), and brand membership is LeftSemi
    df = QUERIES["tpch_q17_small_qty"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "LeftSemi" in plan
    assert_broadcast_join(df, at_least=1)
    assert_pushed_filters(df, "p_brand")


def test_q19_disjunction_stays_equi_join(spark):
    # the OR-of-conjunctions must NOT break the l_partkey=p_partkey
    # equi-condition out of the hash join into a nested loop
    df = QUERIES["tpch_q19_disjunctive"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q20_semi_join_and_pushdown(spark):
    df = QUERIES["tpch_q20_excess"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "LeftSemi" in plan
    assert "SinglePartition" not in physical_plan(df)  # window is per-part
    assert_pushed_filters(df, "l_shipdate", "p_name")


def test_q21_semi_and_anti_joins(spark):
    # EXISTS(other supplier) → LeftSemi; NOT EXISTS(other late
    # supplier) → LeftAnti; never a nested loop despite the <>
    # inequality riding each join condition
    df = QUERIES["tpch_q21_waiting"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_window_funcs_share_one_sort(spark):
    # six window functions over the same (custkey, date) spec: ONE
    # exchange + one sort feeds all of them; never a global window
    df = QUERIES["orders_window_funcs"](spark, SF_SMALL)
    assert count_exchanges(df) == 1
    assert "SinglePartition" not in physical_plan(df)


def test_moving_sum_single_partitioned_window(spark):
    df = QUERIES["lineitem_moving_sum"](spark, SF_SMALL)
    assert count_exchanges(df) == 1
    assert "SinglePartition" not in physical_plan(df)


def test_date_funcs_zero_shuffle(spark):
    # pure scalar projections: no exchange, fully codegen'd
    df = QUERIES["orders_date_funcs"](spark, SF_SMALL)
    assert count_exchanges(df) == 0
    assert_whole_stage_codegen(df)


def test_array_funcs_no_python_no_shuffle(spark):
    # higher-order functions must compile to expressions — a
    # BatchEvalPython / ArrowEvalPython node means a UDF snuck in
    df = QUERIES["doc_array_funcs"](spark, SF_SMALL)
    assert count_exchanges(df) == 0
    assert "Python" not in physical_plan(df)


def test_stratified_sample_scan_side_filter(spark):
    # hash-gate sampling is a filter, not a join/agg: zero exchanges
    df = QUERIES["corpus_stratified_sample"](spark, SF_SMALL)
    assert count_exchanges(df) == 0


def test_keep_best_anti_join_broadcast(spark):
    # the pairwise AUDIT variant broadcasts the dominated set LEFT ANTI
    # onto the corpus — the corpus side must not shuffle for the filter
    df = QUERIES["corpus_keep_best_pairs"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_keep_best_group_shaped(spark):
    # the DEFAULT keep-best is cluster-shaped: star edges + CC labels,
    # window over the narrow (doc_id, q_len, cluster) relation — no
    # all-pairs join shapes anywhere
    df = QUERIES["corpus_keep_best"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "SinglePartition" not in physical_plan(df)


def test_contamination_gram_join_is_hash(spark):
    # the cross-split match must be a shuffled hash join, never
    # nested-loop.  (Since the round-4 single-pass rewrite the gram
    # relation sits behind a localCheckpoint boundary, so its
    # Generate(explode) is asserted on the pre-checkpoint relation,
    # not the final plan.)
    df = QUERIES["corpus_contamination"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    from recommendation_translation_spark.operators.curation import doc_ngrams

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    gram_plan = physical_plan(
        doc_ngrams(docs, n=8, keep_cols=()), mode="simple"
    )
    assert "Generate" in gram_plan


def test_percentiles_single_pass(spark):
    # four exact percentiles in ONE aggregate over one shuffle
    df = QUERIES["lineitem_percentiles"](spark, SF_SMALL)
    assert count_exchanges(df) == 1


def test_grouping_sets_single_expand(spark):
    # GROUPING SETS = one Expand + one aggregate, like rollup/cube
    df = QUERIES["pricing_grouping_sets"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert plan.count("Expand") == 1
    assert count_exchanges(df) == 1
    assert_pushed_filters(df, "l_shipdate")


def test_heatmap_single_shuffle(spark):
    df = QUERIES["events_hourly_heatmap"](spark, SF_SMALL)
    assert count_exchanges(df) == 1


def test_udtf_chunking_no_shuffle(spark):
    # the lateral UDTF explodes rows in place — no exchange at all
    df = QUERIES["doc_chunks_udtf"](spark, SF_SMALL)
    assert count_exchanges(df) == 0


def test_frame_sample_arrow_no_shuffle(spark):
    # mapInPandas (Arrow batches) with column pruning, zero exchanges
    df = QUERIES["mm_frame_sample"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "MapInPandas" in plan or "Python" in plan
    assert count_exchanges(df) == 0


def test_sketch_stats_single_shuffle(spark):
    # HLL + t-digest + exact twins all ride one grouped aggregate
    df = QUERIES["events_sketch_stats"](spark, SF_SMALL)
    assert count_exchanges(df) <= 2  # distinct-agg may add one


def test_sq8_integer_dot_broadcast(spark):
    # quantized codes join against BROADCAST queries (a nested-loop on
    # the ≠ condition, but over the tiny broadcast side only — the
    # corpus is never shuffled); no Python in the hot path (quantize +
    # dot are pure array expressions); top-k pushes into the sort via
    # WindowGroupLimit
    df = QUERIES["emb_sq8_topk"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Python" not in physical_plan(df)
    assert "WindowGroupLimit" in plan


def test_tfidf_no_cartesian_partitioned_topk(spark):
    # tf ⋈ df ⋈ 1-row N: the corpus-size scalar rides a broadcast of
    # ONE row (its SinglePartition agg is the legitimate global
    # scalar); the per-doc top-k window itself stays partitioned
    df = QUERIES["doc_tfidf_topterms"](spark, SF_SMALL)
    plan = physical_plan(df)
    win_lines = [l for l in plan.splitlines() if "partitionBy" in l.lower() or "Window" in l]
    assert win_lines, plan  # window present
    assert "CartesianProduct" not in physical_plan(df, mode="simple")


def test_yearly_growth_shares_agg_and_window(spark):
    # agg on (flag, yr) then lag window on flag: two exchanges max
    df = QUERIES["lineitem_yearly_growth"](spark, SF_SMALL)
    assert count_exchanges(df) <= 2
    assert "SinglePartition" not in physical_plan(df)


def test_trimmed_mean_is_grouped_pandas_agg(spark):
    # the UDAF runs as an Arrow-batched grouped aggregate — one
    # exchange on the group key, python only at the agg boundary
    df = QUERIES["events_trimmed_mean"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "InPandas" in plan or "Python" in plan
    assert count_exchanges(df) == 1


def test_pysource_scan_parallel_partitions(spark):
    # the custom Python source exposes 8 input partitions — the scan
    # parallelizes like a file source; aggregation is one exchange
    df = QUERIES["pysource_scan"](spark, SF_SMALL)
    assert count_exchanges(df) == 1
    assert df.rdd.getNumPartitions() >= 1  # materializes through the v2 scan


def test_zscore_stats_broadcast_onto_facts(spark):
    # the |types|-row stats side must broadcast — the event facts are
    # never shuffled for the join (only the stats agg exchanges)
    df = QUERIES["events_zscore_outliers"](spark, SF_SMALL)
    assert_broadcast_join(df, at_least=1)
    assert count_exchanges(df) <= 1


def test_interleave_no_single_partition_exchange(spark):
    # the per-source rank is a source-partitioned window and the global
    # mix_rank is a closed-form expression over a broadcast counts map
    # (round-7 rewrite) — the corpus NEVER passes a single-partition
    # exchange.  The one allowed SinglePartition is the |sources|-row
    # counts fold feeding the broadcast (bounded by the mixing config,
    # not by data).
    df = QUERIES["corpus_interleave"](spark, SF_SMALL)
    plan = physical_plan(df)
    assert plan.count("SinglePartition") <= 1
    # the corpus window runs hash-partitioned on the source key
    assert "hashpartitioning(source" in plan


def test_token_budget_no_single_partition_exchange(spark):
    # running-sum over the global quality ordering, same two-pass
    # formulation: never a single-reducer sort
    df = QUERIES["corpus_token_budget"](spark, SF_SMALL)
    assert "SinglePartition" not in physical_plan(df)


def test_shard_manifest_one_pass_no_single_partition(spark):
    # both ordered measures (position + token offset) ride ONE range
    # shuffle and ONE Window node — never a single-reducer sort, never
    # a second corpus pass for the second measure
    df = QUERIES["corpus_shard_manifest"](spark, SF_SMALL)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan
    # one Window node computes every fold column (same spec ⇒ Catalyst
    # plans them together); a second node would mean a second pass.
    # Count detail headers "(N) Window" — the formatted plan prints each
    # node in both the tree and the details section.
    import re

    assert len(re.findall(r"^\(\d+\) Window$", plan, re.M)) <= 1


def test_ordered_measure_plan_is_reproducible(spark):
    # the ordering offsets are computed inside the plan, never collected
    # and baked into it as literals: three builds of the same row in one
    # session print one normalized plan, so a plan diff shows only real
    # plan changes
    from tools_dump_plans import normalized

    plans = {
        normalized(
            physical_plan(
                QUERIES["lineitem_equidepth_histogram"](spark, SF_SMALL),
                mode="simple",
            )
        )
        for _ in range(3)
    }
    assert len(plans) == 1, "\n\n".join(plans)


def test_contamination_plan_is_reproducible(spark):
    # the per-document distinct counts are size(collect_set(...)), not
    # two count_distinct: those plan an Expand whose projection order
    # follows expression hashes, which carry expression ids, so the
    # plan changed with the rows built before it in the same session
    from tools_dump_plans import normalized

    def plan(name):
        return normalized(
            physical_plan(QUERIES[name](spark, SF_SMALL), mode="simple")
        )

    first = plan("corpus_contamination")
    plan("corpus_bpe_budget")
    assert "Expand" not in first
    assert plan("corpus_contamination") == first


def test_shard_append_broadcasts_tails_no_single_partition(spark):
    # append cost must be ∝ batch: the base contributes a bounded
    # 16-row tails aggregate joined by BROADCAST (never a shuffle of
    # the batch against the base layout), and the ordering pass keeps
    # the partitioned two-pass formulation
    df = QUERIES["corpus_shard_append"](spark, SF_SMALL)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_no_single_partition_exchange(spark):
    # global token offsets via the two-pass range-partitioned running
    # sum — packing must not funnel the corpus through one reducer
    df = QUERIES["corpus_pack_sequences"](spark, SF_SMALL)
    assert "SinglePartition" not in physical_plan(df)


def test_source_quota_partitioned_window(spark):
    # one partitioned window; the quota filter rides the same stage
    df = QUERIES["corpus_source_quota"](spark, SF_SMALL)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan
    assert count_exchanges(df) <= 1


def test_corpus_profile_single_aggregation(spark):
    # every profile metric is an agg expression over ONE groupBy pass
    df = QUERIES["corpus_profile"](spark, SF_SMALL)
    assert count_exchanges(df) <= 2  # partial agg + distinct-lang expand


def test_bm25_no_token_explode_and_take_ordered(spark):
    # tf/dl are array expressions on the scan (stack expands 3 rows per
    # doc, never |tokens|); top-k is per-partition heaps, no global
    # sort.  (The one SinglePartition exchange in this plan is the
    # bounded 1-row corpus-totals scalar — not a data-sized sort.)
    df = QUERIES["doc_bm25_topk"](spark, SF_SMALL)
    simple = physical_plan(df, mode="simple")
    assert "TakeOrderedAndProject" in simple
    # explode-free: the only generators are 3-rows-per-doc stacks (one
    # per reference to the tf frame — df side and score side)
    assert simple.count("Generate") <= 2 and "explode" not in simple
    assert count_exchanges(df) <= 5


def test_time_rollup_single_expand_pass(spark):
    # ROLLUP over (type, day) = one Expand + one aggregate, not 3 scans
    df = QUERIES["events_time_rollup"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert plan.count("Expand") == 1
    assert count_exchanges(df) <= 1


def test_price_histogram_broadcast_bounds(spark):
    # min/max is a 1-row broadcast scalar fold (BroadcastNestedLoopJoin
    # of a single row, like the other scalar subqueries); bin count is
    # one hash agg over a <=21-key space — the scan is never shuffled
    # by value
    df = QUERIES["lineitem_price_histogram"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert count_exchanges(df) <= 2


def test_blocklist_zero_shuffle(spark):
    # the blocklist rides the plan as a literal array: pure scan pass
    df = QUERIES["corpus_blocklist"](spark, SF_SMALL)
    assert count_exchanges(df) == 0


def test_string_funcs_zero_shuffle(spark):
    df = QUERIES["doc_string_funcs"](spark, SF_SMALL)
    assert count_exchanges(df) == 0
    assert_whole_stage_codegen(df)


# ---------------------------------------------------------------------------
# global anti-pattern audit over the ENTIRE catalog (round 3)
# ---------------------------------------------------------------------------

# Queries that materialize work at DataFrame-build time (model training,
# stream drains) — their plan properties are pinned by dedicated tests.
_BUILD_HEAVY = {
    "ml_train_rmse", "ml_score_topk", "ml_feature_importance", "ml_cv_tuning",
    "emb_kmeans_centroids", "doc_quality_classifier",
    # ALS trains at build time; recommendForUserSubset's plan contains
    # MLlib's own blocked user×item factor cross product — bounded by
    # (|subset| × rank), deliberate blocked-BLAS scoring, not a scan join
    "ml_als_recs",
    # the four-stage CLI chain trains + writes artifacts at build time;
    # the returned frame is a CSV-scan projection.  Its component
    # plans are pinned by the per-stage tests (cli/train/score).
    "pipeline_e2e_score",
    "events_stream_tumbling", "events_stream_hopping", "events_stream_static",
    "events_stream_sessionize", "events_stream_join",
    "events_stream_stateful", "events_stream_dedup", "pysource_stream",
    "events_stream_rocksdb", "events_stream_chained",
    "docs_stream_dedup_gate",
    # integer PageRank runs its 6 iterations eagerly (per-round
    # localCheckpoint, O(1) lineage); the returned frame is a
    # checkpoint scan.  Its per-iteration shape (edge equi-join + node
    # agg) is pinned by oracle parity + unit invariants.
    "part_pagerank",
}

# Bounded 1-row scalar aggregates / scalar-subquery folds: the ONLY
# places Exchange SinglePartition or BroadcastNestedLoopJoin may appear
# (a single row through one task is not a scale hazard).  Additions
# must be justified here or fixed.
_SCALAR_FOLD_OK = {
    "corpus_dedup_report", "lineitem_price_histogram",
    "tpch_q15_top_supplier", "tpch_q17_small_qty", "tpch_q19_disjunctive",
    "tpch_q22_acctbal", "tpch_q6_forecast", "doc_bm25_topk",
    "doc_tfidf_topterms", "doc_rarity_quality", "emb_cosine_topk", "emb_sq8_topk",
    "tpch_q11_important", "nation_revenue_share", "lineitem_skew_profile",
    # round 4: 1-row profile aggregates (corr matrix, DQ report) and the
    # Pareto grand-total scalar folded back by a broadcast cross join
    "lineitem_corr_matrix", "lineitem_dq_checks", "supplier_pareto",
    # customer_rfm folds two 1-row scalars (anchor date, customer count)
    "customer_rfm",
    # equi-depth histogram folds the 1-row total-count scalar
    "lineitem_equidepth_histogram",
    # round 7: interleave folds the |sources|-row counts map (bounded
    # by the mixing config) back onto the corpus via a 1-row broadcast
    "corpus_interleave",
    # LSH recall report folds three 1-row count scalars
    "dedup_lsh_recall_report",
    # ... and its round-11 sampled twin is the same fold shape over the
    # deterministic bounded sub-corpus (s=1 at test SFs)
    "dedup_lsh_recall_sampled",
    # reach curve: the cumulative window runs over the per-DAY relation
    # — bounded by the calendar (≤36.5k rows/century), not the data
    "events_reach_curve",
    # round 5: approx_top_k merges per-partition sketches into ONE
    # final sketch row — map-side partials carry O(k) state, so the
    # single-partition merge moves KBs regardless of corpus size (the
    # whole point of the mergeable-sketch shape)
    "doc_heavy_hitters",
    # round 5: the Z-order scan measurement reduces a ~2% filtered scan
    # to ONE stats row (n_rows, cents, files-hit) — the global agg's
    # partials are 3 values per task
    "lineitem_zorder_pruning",
    # IVF recall audit folds three 1-row count scalars (same shape as
    # dedup_lsh_recall_report)
    "emb_ivf_recall_report",
    # temperature sampler folds the 1-row max-sqrt scalar into the
    # |langs|-row rate table
    "corpus_temperature_sample",
    # round 11: DSIR and shard divergence take their grand totals from
    # an unpartitioned window over an already-bounded relation (the
    # ≤1024-row bucket table / the |shards|×|vocab| term relation) — a
    # SinglePartition pass over bytes that keeps each model a single
    # subtree instead of a racing scalar-fold twin
    "corpus_dsir_select",
    "corpus_shard_divergence",
    # round 12: the Gumbel-resampled twin shares the same scoring core
    # (same ≤1024-row bucket-table window) — noise is a projection
    "corpus_dsir_resample",
    # round 7: PQ search broadcasts the bounded query panel with a
    # non-equi self-exclusion (cand_id <> query_id) — the same
    # BroadcastNestedLoopJoin shape as emb_cosine_topk/emb_sq8_topk
    "emb_pq_topk",
    # round 8: the persisted-index search ranks with the identical
    # broadcast-panel BNLJ; its codes-only scan contract has its own
    # dedicated test below
    "emb_pq_persisted_topk",
    # round 9: the IVFPQ recall audit folds six legs of 1-row count
    # scalars (the emb_ivf_recall_report shape) and its brute-force
    # TRUTH leg is cosine_topk's bounded-panel non-equi broadcast —
    # the same BNLJ as emb_cosine_topk
    "emb_ivfpq_recall_report",
    # round 9: the refine stage's COARSE pass is the emb_pq_topk
    # broadcast-panel BNLJ; the refine joins themselves are broadcast
    # equi-joins of the bounded |Q|*R short list
    "emb_pq_refine_topk",
    # ... and its recall report folds three 1-row count scalars on top
    "emb_pq_refine_recall_report",
    # round 10: the SAMPLED audits are the same shapes over the
    # bounded deterministic sub-corpus (s=1 at test SFs, capped ~20k
    # rows beyond sf1) — the BNLJ is the bounded-panel truth leg, the
    # SinglePartition the per-leg 1-row count folds
    "emb_ivfpq_recall_sampled",
    "emb_pq_refine_r_sweep",
}


def test_simhash_signature_pass_has_no_aggregate(spark):
    # round 5: the vote computation is row-local (hashed-array
    # filter+size), so the ONLY exchange is the deliberate input-spread
    # repartition — no explode, no groupBy, no aggregate at all
    from recommendation_translation_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    for bits in (32, 64):
        df = simhash(docs, bits=bits)
        assert count_exchanges(df) == 1
        plan = physical_plan(df, mode="simple")
        assert "HashAggregate" not in plan, plan
        assert "Generate" not in plan, plan  # no explode


def test_bucketed_join_is_exchange_free(spark):
    # both sides are 8-bucket tables hashed+sorted on the order key:
    # the fact-to-fact join must plan with ZERO Exchange — bucketing
    # paid the shuffle at write time (the whole claim of
    # sources.writers.write_bucketed_table; the only exchange in the
    # full query is the final groupBy on o_orderpriority)
    # disable size-based broadcast: at test SF the orders side fits a
    # broadcast, which would hide the claim under test — at 100 TB
    # neither side broadcasts and the bucket layout is what saves the
    # shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["orders_bucketed_join"](spark, SF_SMALL)
        full = physical_plan(df, mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in full or "ShuffledHashJoin" in full, full
    assert "Bucketed: true" in full, full
    # exactly ONE exchange total: the 5-row priority rollup — the join
    # itself reads co-located buckets with no shuffle on either side
    assert full.count("Exchange hashpartitioning") == 1, full


def test_salted_join_plan_shape_pinned(spark):
    """orders_salted_join's intended plan, pinned deterministically
    (round-7 verdict #3: sf3 showed AQE run-to-run 'plan luck' — at
    sf1 AQE sometimes rewrote the join into a BROADCAST of the
    8×-replicated dim, measured 3× slower than the shuffle join).
    salted_join now pins the SMJ with a merge hint (a broadcastable
    dim needs no salt), so the shape asserted here holds under the
    DEFAULT confs, no threshold override: a sort-merge join whose
    BOTH sides exchange on (key, _salt) — the 8-way hot-key spread
    that is the operator's whole point — with the dim replication
    (Generate explode) MAP-SIDE beneath its exchange, and exactly 3
    exchanges total (join side ×2 + the final priority rollup)."""
    df = QUERIES["orders_salted_join"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "SortMergeJoin" in plan, plan
    assert "Broadcast" not in plan, plan
    salted_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "_salt" in ln
    ]
    assert len(salted_exchanges) == 2, (
        "both join inputs must partition on (key, _salt):\n" + plan
    )
    assert plan.count("Exchange hashpartitioning") == 3, plan
    # replication happens before the dim's shuffle (map-side explode),
    # so the salt spread is effective at the exchange
    gen = plan.find("Generate explode")
    dim_exch = plan.find(salted_exchanges[-1].strip())
    assert gen > dim_exch >= 0, plan


def test_zorder_scan_clusters_matches(spark):
    # the hash-checked flag asserts ≤16 of 32 files hit; the actual
    # count at any SF is a handful — pin the stronger bound here
    row = QUERIES["lineitem_zorder_pruning"](spark, SF_SMALL).collect()[0]
    assert row["clustered"] is True
    assert row["n_rows"] > 0


def test_catalog_wide_plan_audit(spark):
    # every query in the catalog: no cartesian product anywhere, and a
    # data-sized single-reducer exchange only in the allowlisted
    # scalar-fold plans
    bad = []
    for name, fn in QUERIES.items():
        if name in _BUILD_HEAVY:
            continue
        plan = physical_plan(fn(spark, SF_SMALL), mode="simple")
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if name not in _SCALAR_FOLD_OK:
            if "Exchange SinglePartition" in plan:
                bad.append((name, "SinglePartition"))
            if "BroadcastNestedLoopJoin" in plan:
                bad.append((name, "BroadcastNestedLoopJoin"))
    assert not bad, f"plan anti-patterns: {bad}"


# Columns that identify a scan of an SF-scaled TPC-H relation inside a
# logical plan string (customer/orders/lineitem/part/partsupp/supplier
# all grow linearly with scale factor — ~TBs at 100 TB).
_SF_SCALED_KEY_COLS = (
    "c_custkey", "o_orderkey", "l_orderkey", "p_partkey",
    "ps_partkey", "s_suppkey",
)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    # At 100 TB, a fact ⋈ selectively-filtered-dim shuffle join should
    # ship only fact rows that can match: Spark's runtime bloom filter
    # builds bloom_filter_agg on the filtered side and injects a
    # might_contain predicate on the fact side BEFORE the shuffle.
    # The optimization is size-gated (application side must scan >
    # applicationSideScanSizeThreshold, 10 GB default — correct for a
    # real cluster, never reached at bench SF), so this test lowers
    # the gate to prove the engine's plans ARE eligible: no manual
    # semi-join reduction is needed in our query shapes.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = physical_plan(j, mode="simple")
        assert "might_contain" in plan, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _broadcast_hinted_subplans(df) -> list[str]:
    """Text of every subtree under a broadcast hint in ``df``'s analyzed
    plan — hints from ``F.broadcast()`` and ``/*+ BROADCAST(..) */``
    comments in SQL text both resolve to the same ``ResolvedHint``
    node."""
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    subplans = []
    for i, line in enumerate(lines):
        if "ResolvedHint (strategy=broadcast)" not in line:
            continue
        depth = line.index("ResolvedHint")
        sub = [line]
        for nxt in lines[i + 1:]:
            # a descendant's node name starts right of the hint's
            if len(nxt) - len(nxt.lstrip(" :+-")) <= depth:
                break
            sub.append(nxt)
        subplans.append("\n".join(sub))
    return subplans


def _forces_sf_scaled_broadcast(df) -> bool:
    """True if a broadcast hint in ``df`` covers a scan of an SF-scaled
    table with no Aggregate under the hint."""
    return any(
        any(c in sub for c in _SF_SCALED_KEY_COLS) and "Aggregate" not in sub
        for sub in _broadcast_hinted_subplans(df)
    )


def test_no_forced_broadcast_on_sf_scaled_relations(spark, monkeypatch):
    # A forced broadcast hint on a relation that GROWS with the
    # data is an OOM at scale no matter what AQE thinks (round-3
    # verdict: broadcast(customer) in ingest_join/nation_revenue_share;
    # same class: part in q14, filtered supplier in q16, SF-scaled
    # grouped aggregates in q17/q18).  Rule: a hinted subplan that
    # scans an SF-scaled table must contain an Aggregate (the bounded
    # scalar-fold / domain-bounded-rollup cases); raw or merely
    # filtered/projected SF-scaled relations may never carry the hint —
    # leave the choice to AQE, which sees runtime sizes.  Hints come
    # from the Python API (F.broadcast) and from SQL text alike, so
    # both the hinted frames F.broadcast returns and every spark.sql
    # result whose text carries a hint comment are inspected.
    import pyspark.sql.functions as SF
    from pyspark.sql.session import SparkSession

    recorded: list = []
    real_broadcast = SF.broadcast
    real_sql = SparkSession.sql

    def spy(df):
        hinted = real_broadcast(df)
        recorded.append(hinted)
        return hinted

    def sql_spy(self, sql_text, *args, **kwargs):
        df = real_sql(self, sql_text, *args, **kwargs)
        if "/*+" in sql_text:
            recorded.append(df)
        return df

    # queries.py / operators bind `F` to the functions MODULE, so
    # patching the module attribute is visible everywhere.
    monkeypatch.setattr("pyspark.sql.functions.broadcast", spy)
    monkeypatch.setattr(SparkSession, "sql", sql_spy)

    # The guard itself: a hinted raw SF-scaled scan is flagged whether
    # the hint comes from F.broadcast or from SQL text, and a hinted
    # aggregate over the same scan is not.
    li_path = f"{SF_SMALL}/lineitem.parquet"
    lineitem = spark.read.parquet(li_path)
    recorded.clear()
    SF.broadcast(lineitem)
    SF.broadcast(lineitem.groupBy("l_orderkey").count())
    spark.sql(
        f"SELECT /*+ BROADCAST(l) */ l.l_orderkey FROM parquet.`{li_path}` l "
        f"JOIN parquet.`{li_path}` r ON l.l_orderkey = r.l_orderkey"
    )
    assert [_forces_sf_scaled_broadcast(df) for df in recorded] == [
        True, False, True,
    ]

    offenders = []
    for name, fn in QUERIES.items():
        if name in _BUILD_HEAVY:  # build-time-materializing queries
            continue
        recorded.clear()
        fn(spark, SF_SMALL)
        if any(_forces_sf_scaled_broadcast(df) for df in recorded):
            offenders.append(name)
    assert not offenders, (
        f"forced broadcast hint on un-aggregated SF-scaled relation in: "
        f"{sorted(set(offenders))}"
    )


def test_capped_balance_walk_is_one_lazy_grouped_fold(spark):
    """The clamp fold is one grouped pass: building it submits no Spark
    job (no eager checkpoint of the chunks, no materialized walk), and
    its plan has no recursive-CTE loop and no broadcast hint."""
    from recommendation_translation_spark.catalog.warehouse import capped_balance_walk

    ord_df = spark.createDataFrame(
        [(1, 5, 1), (1, 7, 2), (2, 3, 1)], "custkey long, cents long, rn int"
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("capped_walk_probe", "capped_balance_walk build")
    try:
        walk = capped_balance_walk(spark, ord_df, cap=10, chunk_size=1)
    finally:
        sc.setJobGroup(None, None)
    assert tracker.getJobIdsForGroup("capped_walk_probe") == []
    assert set(tracker.getJobIdsForGroup()) <= before
    analyzed = walk._jdf.queryExecution().analyzed().toString()
    assert "UnionLoop" not in analyzed + physical_plan(walk)
    assert not _broadcast_hinted_subplans(walk)


# An ``sf_dir`` table read that bypasses ``read_table``: the Python
# reader over an ``{sf_dir}`` path, or a ``parquet.`{sf_dir}…``` table
# reference in SQL text.
_TABLE_READ_BYPASS = re.compile(
    r"""\.parquet\(\s*(?:f["']\{sf_dir\}|os\.path\.join\(\s*sf_dir)"""
    r"|parquet\.`\{sf_dir\}"
)


def _table_read_bypasses(source: str) -> list[str]:
    lines = source.splitlines()
    return [
        lines[source.count("\n", 0, m.start())].strip()
        for m in _TABLE_READ_BYPASS.finditer(source)
    ]


def test_catalog_table_reads_go_through_read_table():
    """Every catalog table read goes through ``sources.readers.read_table``,
    which memoizes the schema: a plain parquet read submits a
    schema-inference job each time a builder runs.  SQL text is scanned
    too, since a ``parquet.`path``` reference plans the same read.  The
    modules scanned are the registry's families, so a new family is
    covered without editing this test."""
    from recommendation_translation_spark.queries import FAMILIES

    planted = [
        'lines = spark.read.parquet(f"{sf_dir}/lineitem.parquet")',
        "docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))",
        "FROM parquet.`{sf_dir}/orders.parquet` o",
    ]
    allowed = "orders = read_table(spark, sf_dir, 'orders')"
    assert _table_read_bypasses("\n".join([allowed, *planted])) == planted

    assert len(FAMILIES) > 1
    for mod in FAMILIES:
        bypasses = _table_read_bypasses(inspect.getsource(mod))
        assert not bypasses, f"{mod.__name__}: {bypasses}"


_SQL_TEXT_BUILDERS = {
    "pq_code_expr", "pq_lut_expr", "pq_adc_expr", "pq_adc_from_lut",
    "pq_decode_expr", "hyperplane_bits", "_simhash_sum_expr",
}


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    return f.attr if isinstance(f, ast.Attribute) else None


def _isinstance_forks(source: str) -> list[int]:
    """Line numbers of the ``isinstance(`` calls in ``source``."""
    return [
        n.lineno for n in ast.walk(ast.parse(textwrap.dedent(source)))
        if isinstance(n, ast.Call) and _called_name(n) == "isinstance"
    ]


def _column_builder_calls(source: str) -> list[int]:
    """Line numbers of the SQL-text builder calls in ``source`` that
    pass a ``col(…)`` Column anywhere in their arguments."""
    out = []
    for n in ast.walk(ast.parse(source)):
        if isinstance(n, ast.Call) and _called_name(n) in _SQL_TEXT_BUILDERS:
            args = [*n.args, *(k.value for k in n.keywords)]
            if any(isinstance(m, ast.Call) and _called_name(m) == "col"
                   for a in args for m in ast.walk(a)):
                out.append(n.lineno)
    return sorted(out)


def test_expression_builders_take_sql_text_only():
    """The PQ, hyperplane and simhash expression builders have one
    spelling: SQL text in, one ``F.expr`` out.  None of them forks on
    its argument's type, and no package call site hands one a
    Column."""
    import pathlib

    import recommendation_translation_spark as pkg
    from recommendation_translation_spark.operators import dedup, similarity

    planted_fork = (
        "def pq_code_expr(vec, codebooks):\n"
        "    if isinstance(vec, str):\n"
        "        return F.expr(vec)\n"
        "    return vec\n"
    )
    assert _isinstance_forks(planted_fork) == [2]
    planted_calls = (
        'a = df.select(pq_code_expr("v", cb))\n'
        'b = df.select(S.pq_lut_expr(F.col("v"), cb))\n'
        "c = pq_adc_expr(\n"
        '    "v",\n'
        '    F.col("code"),\n'
        "    cb,\n"
        ")\n"
    )
    assert _column_builder_calls(planted_calls) == [2, 3]

    for name in sorted(_SQL_TEXT_BUILDERS):
        fn = getattr(similarity, name, None) or getattr(dedup, name)
        assert not _isinstance_forks(inspect.getsource(fn)), name
    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        calls = _column_builder_calls(path.read_text())
        assert not calls, f"{path.relative_to(root)}: lines {calls}"


# ---------------------------------------------------------------------------
# round-4 families: shuffle floors
# ---------------------------------------------------------------------------


def test_scd2_intervals_single_shuffle(spark):
    # all three windows (lag, island sum, lead) share the user_id
    # partitioning; the groupBy re-uses it → one exchange total
    df = QUERIES["events_scd2_intervals"](spark, SF_SMALL)
    assert count_exchanges(df) == 1


def test_ewma_single_shuffle(spark):
    # ordered frame + HOF fold: one exchange on user_id
    df = QUERIES["events_ewma"](spark, SF_SMALL)
    assert count_exchanges(df) == 1


def test_trailing_range_sum_single_shuffle(spark):
    df = QUERIES["events_trailing_range_sum"](spark, SF_SMALL)
    assert count_exchanges(df) == 1


def test_first_last_touch_single_shuffle(spark):
    # min_by/max_by/count fold into ONE aggregation (partial + final)
    df = QUERIES["events_first_last_touch"](spark, SF_SMALL)
    assert count_exchanges(df) == 1


def test_bitmap_distinct_two_level(spark):
    # (type, bucket) partial bitmaps then per-type counts: 2 exchanges,
    # and the shuffled payload is the bitmap column, never raw ids
    df = QUERIES["events_bitmap_distinct"](spark, SF_SMALL)
    assert count_exchanges(df) == 2
    assert "bitmap_construct_agg" in physical_plan(df, mode="simple")


def test_mad_outliers_facts_never_shuffle(spark):
    # per-type stats broadcast back onto the stream: the only
    # exchanges aggregate the |types|-row stat relations
    df = QUERIES["events_anomaly_mad"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert plan.count("BroadcastHashJoin") == 2


def test_simhash_pairs_no_pair_distinct(spark):
    # first-colliding-band claiming (dedup.band_collision_pairs) plus
    # the round-9 signature collapse: each unordered pair is emitted
    # exactly once (claimed rep pair expanded through its clone groups,
    # or the hamming-0 twins leg), so the PAIR stream needs no
    # distinct.  The one aggregate the plan MAY contain is the
    # signature-collapse distinct itself — keyed on the 8-byte simhash
    # over the checkpointed signature frame, duplication-bounded, never
    # pair-scale.  A HashAggregate keyed on pair ids means someone
    # reintroduced the pair distinct and with it the bands-fold
    # duplicate verification work.
    df = QUERIES["dedup_simhash_pairs"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    for ln in plan.splitlines():
        if "HashAggregate" in ln:
            assert "keys=[simhash" in ln, (
                "pair-scale aggregate reintroduced:\n" + ln
            )


def test_emb_cosine_pairs_no_pair_distinct(spark):
    # the embedding LSH path claims each pair in its first colliding
    # hyperplane table (the 4.2x sf1 win recorded in SCALE.md) — like
    # the simhash twin above, the pair stream must stay distinct-free.
    # The adaptive n_bits count runs at build time as its own action,
    # so the returned frame's plan has no aggregate at all.
    df = QUERIES["dedup_emb_cosine"](spark, SF_SMALL)
    assert "HashAggregate" not in physical_plan(df)


def test_pq_persisted_search_scans_codes_not_vectors(spark):
    """The persisted-PQ search (round-7 verdict #4) must deliver the
    "write the codes column once, scan codes not vectors" promise in
    the PLAN: the candidate-side FileScan reads the persisted codes
    table — (cand_id, code), 4 small ints — and NO scan in the query
    reads the float-vector column except the bounded query panel
    (vec_id-strided + capped, pushed into its scan and broadcast).
    A regression that joins the raw embeddings back onto the candidate
    side would re-read 64 floats per corpus row at 100 TB."""
    df = QUERIES["emb_pq_persisted_topk"](spark, SF_SMALL)
    # simple mode prints each FileScan on one line with its output
    # columns and data filters (formatted mode splits them off into a
    # details section, hiding the per-scan column list)
    plan = physical_plan(df, mode="simple")
    scans = [
        ln for ln in plan.splitlines() if "FileScan parquet" in ln
    ]
    code_scans = [s for s in scans if "code" in s and "embedding" not in s]
    vec_scans = [s for s in scans if "embedding" in s]
    assert code_scans, "no codes-table scan in the plan"
    # every raw-vector scan is the strided+capped query panel, never
    # an unfiltered corpus read on the candidate side
    assert vec_scans, "query panel scan missing"
    for s in vec_scans:
        assert "% 50" in s and "< 4000" in s, (
            "raw-vector scan without the panel filter pushed down:\n" + s
        )
    # the panel joins as a BROADCAST (nested-loop: the != condition is
    # non-equi, and 80 rows broadcast is exactly right) — the corpus
    # codes side must never shuffle for it
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_ivf_persisted_search_prunes_partitions(spark):
    """The persisted-IVF search (round-8) must make nprobe PHYSICAL:
    the lists table is written partitioned by list_label, and the
    broadcast probe join on that partition column must plant a
    dynamic-partition-pruning subquery on the lists scan — at 100 TB
    that is the difference between reading nprobe/L of the index and
    reading all of it.  The lists scan must also carry the persisted
    (cvec, cnrm) columns and never the raw embedding column: a
    regression that re-reads the embeddings table on the candidate
    side would both lose the pruning and re-pay the norm fold."""
    df = QUERIES["emb_ivf_persisted_topk"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "dynamicpruning" in plan, (
        "no dynamic-partition-pruning subquery on the lists scan:\n" + plan
    )
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    lists_scans = [s for s in scans if "cnrm" in s]
    vec_scans = [s for s in scans if "embedding" in s]
    assert lists_scans, "no persisted-lists scan in the plan"
    for s in lists_scans:
        assert "embedding" not in s, (
            "candidate side re-reads the raw embedding column:\n" + s
        )
    # the only raw-vector read is the bounded strided query panel,
    # filters pushed into the scan
    assert vec_scans, "query panel scan missing"
    for s in vec_scans:
        assert "% 50" in s and "< 4000" in s, (
            "raw-vector scan without the panel filter pushed down:\n" + s
        )
    # the probe side broadcasts; the partitioned lists side never
    # shuffles for the join
    assert "BroadcastHashJoin" in plan, plan


def test_ivfpq_persisted_search_prunes_and_scans_codes(spark):
    """The full persisted IVFPQ index (round-8) must deliver BOTH
    scale levers in the plan: the codes scan carries a
    dynamic-partition-pruning subquery on list_label (read nprobe/L
    of the index as a directory skip) AND no scan on the candidate
    side reads a float-vector column — the rows that survive the skip
    are 4 small ints.  The only raw-embedding read is the bounded
    strided query panel."""
    df = QUERIES["emb_ivfpq_persisted_topk"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "dynamicpruning" in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    code_scans = [s for s in scans if "code" in s and "embedding" not in s]
    assert code_scans, "no persisted-codes scan in the plan"
    for s in code_scans:
        # the surviving rows must be the 4-int codes, never floats:
        # assert on the scan's ReadSchema, not on column names that
        # could never appear in a codes-only table
        assert "array<int>" in s and "array<double>" not in s, (
            "codes scan does not read 4-int rows:\n" + s
        )
    vec_scans = [s for s in scans if "embedding" in s]
    assert vec_scans, "query panel scan missing"
    for s in vec_scans:
        assert "% 50" in s and "< 4000" in s, (
            "raw-vector scan without the panel filter pushed down:\n" + s
        )
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.xdist_group("ivfpq_append_index")
def test_ivfpq_append_search_scans_base_and_appended_codes(spark):
    """The append path (round-9): after BUILD(base) + APPEND(batch),
    the search must (a) keep both persisted-index levers — DPP on the
    codes scan, no float-vector column on the candidate side — and
    (b) actually scan the APPENDED codes: batch vectors
    (vec_id % 10 == 7) exist in the codes table only through the
    append write, so their presence both on disk and among ranked
    candidates proves the additive write landed inside the partition
    directories and is read as one index with the base."""
    import os
    import tempfile

    df = QUERIES["emb_ivfpq_append_topk"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "dynamicpruning" in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    code_scans = [s for s in scans if "code" in s and "embedding" not in s]
    assert code_scans, "no persisted-codes scan in the plan"
    for s in code_scans:
        assert "array<int>" in s and "array<double>" not in s, s
    vec_scans = [s for s in scans if "embedding" in s]
    assert vec_scans, "query panel scan missing"
    for s in vec_scans:
        assert "% 50" in s and "< 4000" in s, s
    # appended rows are IN the index on disk...
    codes_path = os.path.join(
        tempfile.gettempdir(), "spark_graft_runs",
        f"ivfpq_append_index_{os.path.basename(SF_SMALL)}", "codes",
    )
    codes = spark.read.parquet(codes_path)
    n_batch = codes.filter(F.col("cand_id") % 10 == 7).count()
    n_base = codes.filter(F.col("cand_id") % 10 != 7).count()
    assert n_batch > 0 and n_base > 0, (n_base, n_batch)
    # ...and reachable through the search (some batch vector ranks)
    assert df.filter(F.col("cand_id") % 10 == 7).count() > 0


def test_ivfpq_append_batch_encode_touches_only_batch(spark):
    """The APPEND's encode plan must push the batch predicate into the
    embeddings scan — at 100 TB an append that rescans the corpus to
    encode a daily batch defeats the incremental story.  Rebuilt here
    from the same public pieces q_emb_ivfpq_append_topk composes
    (manifest-reloaded centroid literals + pq_code_expr projection)."""
    from recommendation_translation_spark.operators.similarity import (
        _as_double,
        assign_lists,
        centroid_rows,
        centroid_rows_literal,
        l2_norm,
        pq_code_expr,
        pq_det_codebooks,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    cent_arr = centroid_rows_literal(centroid_rows(base))
    cb = pq_det_codebooks(m=4)
    ncand = batch.select(
        F.col("vec_id").alias("cand_id"), _as_double("embedding").alias("cvec")
    ).withColumn("nrm", l2_norm(F.col("cvec")))
    enc = assign_lists(ncand, cent_arr, "cand_id", "cvec", 1).select(
        "cand_id", pq_code_expr("cvec", cb).alias("code"), "list_label"
    )
    plan = physical_plan(enc, mode="simple")
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans, plan
    for s in scans:
        assert "% 10" in s, "batch predicate not pushed into the scan:\n" + s
    # zero-shuffle projection: no Exchange anywhere in the encode plan
    assert "Exchange" not in plan, plan


@pytest.mark.xdist_group("ivfpq_append_index")
def test_compact_partitioned_preserves_layout_and_dpp(spark):
    """compact_partitioned_parquet (round-9, the maintenance half of
    the index-append story) — same xdist group as the append-path plan
    test: both reconstruct q_emb_ivfpq_append_topk's shared run dir by
    naming convention, so under parallel workers one test's _run_dir
    wipe or compaction could race the other's read (round-9 ADVICE
    #3).

    After additive appends leave several
    files per partition directory, compaction must (a) shrink the file
    count to files_per_partition per leaf, (b) PRESERVE the partition
    directory tree — compact_parquet would read the partition column
    back as data and write one flat dir, silently destroying the
    layout — (c) keep the rows identical, and (d) leave the REAL
    consumer working: the IVFPQ search over the compacted index still
    plants its dynamic-pruning subquery and returns the identical
    relation.  (A synthetic createDataFrame probe does NOT qualify for
    DPP — the planner wants a selective filter on the build side — so
    the consumer-level assertion is also the honest one.)"""
    import json
    import os
    import tempfile

    from recommendation_translation_spark.operators.similarity import (
        assign_lists,
        centroid_rows_literal,
        centroids_from_manifest,
        l2_norm,
        pq_adc_rank,
        pq_lut_expr,
    )
    from recommendation_translation_spark.catalog.embeddings import (
        _align_partition_key,
        _queries_frame,
    )
    from recommendation_translation_spark.sources.writers import (
        compact_partitioned_parquet,
    )

    # the append query leaves a codes table with base + appended files
    # per list directory — exactly the small-files state to compact
    before_df = QUERIES["emb_ivfpq_append_topk"](spark, SF_SMALL)
    rows_before = sorted(map(tuple, before_df.collect()))
    d = os.path.join(
        tempfile.gettempdir(), "spark_graft_runs",
        f"ivfpq_append_index_{os.path.basename(SF_SMALL)}",
    )
    codes_path = os.path.join(d, "codes")
    stats = compact_partitioned_parquet(spark, codes_path, ["list_label"])
    assert stats["files_after"] < stats["files_before"], stats
    assert stats["files_after"] == stats["partitions"], stats
    assert any(
        e.startswith("list_label=") for e in os.listdir(codes_path)
    ), "partition directory tree lost"
    # re-run the SEARCH half against the compacted index
    with open(os.path.join(d, "index_manifest.json")) as f:
        manifest = json.load(f)
    cent_arr = centroid_rows_literal(centroids_from_manifest(manifest))
    cb = manifest["codebooks"]
    codes = spark.read.parquet(codes_path)
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = _queries_frame(emb).select(
        "query_id", F.col("query_vec").cast("array<double>").alias("qvec")
    ).withColumn("nrm", l2_norm(F.col("qvec")))
    q_lut = q.select("query_id", pq_lut_expr("qvec", cb).alias("lut"))
    q_probe = assign_lists(q, cent_arr, "query_id", "qvec", 2).select(
        "query_id", "list_label"
    ).join(q_lut, "query_id")
    q_probe = _align_partition_key(q_probe, codes, "list_label")
    after_df = pq_adc_rank(codes, q_probe, 4, k_nn=5, on="list_label")
    plan = physical_plan(after_df, mode="simple")
    assert "dynamicpruning" in plan, plan
    assert sorted(map(tuple, after_df.collect())) == rows_before


def test_compact_partitioned_salted_file_budget(spark, tmp_path):
    """files_per_partition > 1: the bounded salt must spread each
    partition over AT MOST that many files (a hot list directory can
    need more than one target-size file) without mixing partition
    values into stray 1-row leaves, and rows survive exactly."""
    import glob
    import os

    from pyspark.sql import functions as F

    from recommendation_translation_spark.sources.writers import (
        compact_partitioned_parquet,
        write_parquet,
    )

    p = str(tmp_path / "tbl")
    df = spark.range(0, 3000).select(
        "id", (F.col("id") % 3).cast("int").alias("part")
    )
    for offset in (0, 3000, 6000):
        write_parquet(
            df.withColumn("id", F.col("id") + offset).repartition(6),
            p, mode="append" if offset else "errorifexists",
            partition_by=["part"],
        )
    rows_before = sorted(r.id for r in spark.read.parquet(p).collect())
    stats = compact_partitioned_parquet(
        spark, p, ["part"], files_per_partition=2
    )
    assert stats["files_after"] < stats["files_before"], stats
    for d in sorted(e for e in os.listdir(p) if e.startswith("part=")):
        n = len(glob.glob(os.path.join(p, d, "*.parquet")))
        assert 1 <= n <= 2, (d, n)
    assert sorted(r.id for r in spark.read.parquet(p).collect()) == rows_before


def test_compact_partitioned_preserves_string_partition_values(spark, tmp_path):
    """Partition VALUES must survive compaction verbatim: a string
    partition that PARSES as a number ('0123') must not be retyped and
    its directory renamed (batch_id=123) by the rewrite's read-back —
    that would silently break every reader filtering on the original
    string (the round-9 review's failure case)."""
    import os

    from pyspark.sql import functions as F

    from recommendation_translation_spark.sources.writers import (
        compact_partitioned_parquet,
        write_parquet,
    )

    p = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit("0123"))
        .otherwise(F.lit("2024-01-01"))
        .alias("batch_id"),
    )
    write_parquet(df.repartition(3), p, partition_by=["batch_id"])
    write_parquet(
        df.withColumn("id", F.col("id") + 100).repartition(3),
        p, mode="append", partition_by=["batch_id"],
    )
    compact_partitioned_parquet(spark, p, ["batch_id"])
    dirs = sorted(e for e in os.listdir(p) if e.startswith("batch_id="))
    assert dirs == ["batch_id=0123", "batch_id=2024-01-01"], dirs
    # readers filtering on the original string values still see them
    after = spark.read.parquet(p)
    assert after.filter(F.col("batch_id") == "0123").count() == 100
    # the inference conf was restored
    assert spark.conf.get(
        "spark.sql.sources.partitionColumnTypeInference.enabled"
    ) == "true"


def test_incremental_persisted_band_join_scans_index_not_text(spark):
    """The persisted-band incremental dedup (round-8) must get its
    candidate join's corpus side from the 3-column persisted band
    table: exactly one FileScan reads the minhash_band_index parquet
    (narrow: doc_id/band/band_hash, no text), and every scan of the
    documents table that feeds BANDING is the batch side — the corpus
    text is read only for the candidate-semi-joined verification.
    A regression that re-bands the corpus in-flight would re-tokenize
    every corpus document per arriving batch at 100 TB."""
    df = QUERIES["dedup_incremental_persisted"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    # the corpus band side is a PARQUET SCAN of (doc_id, band,
    # band_hash) — if the corpus were re-banded in flight, band_hash
    # would come from expressions and no such scan would exist
    index_scans = [s for s in scans if "band_hash" in s]
    assert index_scans, plan
    for s in index_scans:
        assert "text" not in s, "band-table scan reads text:\n" + s


def test_dsir_select_broadcast_scoring_and_take_ordered(spark):
    # DSIR: the ≤1024-row log-ratio table broadcasts to the scoring
    # scan, and top-k is TakeOrderedAndProject — never a single-reducer
    # global window over the corpus
    df = QUERIES["corpus_dsir_select"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # two input-spread repartitions (model + scoring pass), bucket-count
    # agg (bounded keys), the byte-sized grand-total window, per-doc
    # score agg — nothing else may shuffle
    assert count_exchanges(df) <= 5, plan


def test_shard_divergence_single_corpus_pass(spark):
    # the whole divergence is ONE subtree over one corpus tokenize pass
    # (top token via min_by argmax, not a second window branch); the
    # only other scan is the narrow n_docs count (doc_id column only)
    df = QUERIES["corpus_shard_divergence"](spark, SF_SMALL)
    plan = physical_plan(df, mode="simple")
    assert plan.count("FileScan parquet") == 2, plan
    assert plan.count("Generate explode") == 1, plan
    assert count_exchanges(df) <= 6, plan


def test_ccnet_range_rank_no_per_lang_window(spark):
    # round-12 verdict #3: above the footer dial the ccnet per-language
    # rank must NOT plan a Window hash-partitioned on lang alone (one
    # dominant language = one hot reducer at 100 TB) — every Window
    # node in the range-partitioned path partitions on the range
    # partition id (+ lang), and the plan keeps a RangePartitioning
    # exchange instead
    import re

    from recommendation_translation_spark.catalog.corpus import _ccnet_bucket_stats

    lp = spark.createDataFrame(
        [(i, 3, float(i % 9), "en" if i % 10 else "de") for i in range(200)],
        "doc_id long, n_bigrams long, ppl double, lang string",
    )
    def window_specs(plan):
        # partition columns of every window: the leading unordered
        # columns inside windowspecdefinition(part..., ord ASC/DESC...)
        out = []
        for m in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            cols = []
            for p in (s.strip() for s in m.split(",")):
                if " ASC" in p or " DESC" in p or p.startswith(
                    "specifiedwindowframe"
                ):
                    break
                cols.append(p.split("#")[0])
            out.append(cols)
        return out

    plan = physical_plan(_ccnet_bucket_stats(lp, range_rank=True))
    specs = window_specs(plan)
    assert specs, plan
    for cols in specs:
        # a window partitioned on lang ALONE is the hot-reducer path;
        # the two-pass form always partitions by (_pid, lang) — the
        # range exchange itself sits behind the lazy-checkpoint scan
        # boundary, so assert the window spec, not the exchange node
        assert "_pid" in cols and cols != ["lang"], (cols, plan)
    # ...and the below-dial path keeps the plain per-lang window
    direct_specs = window_specs(
        physical_plan(_ccnet_bucket_stats(lp, range_rank=False))
    )
    assert ["lang"] in direct_specs


def test_epoch_upsample_zero_shuffle(spark):
    # round 13: the per-source epoch replication decision is pure
    # scan-side expression work (CASE weight + md5 hash compare) —
    # zero exchanges at any corpus size
    df = QUERIES["corpus_epoch_upsample"](spark, SF_SMALL)
    assert count_exchanges(df) == 0
    assert_whole_stage_codegen(df)
