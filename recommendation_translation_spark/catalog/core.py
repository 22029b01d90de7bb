"""Reference core: the reference job's operators over ``lineitem`` —
rank → pivot → exists → fold (FeatureExtractor.scala:50-104), the
ingest join, sum + GROUP BY (DataGatherer.scala:70-73), countByValue,
MERGE — plus the table reader every family shares.

The reference-semantics rows treat ``lineitem`` as the long table with
``site := l_returnflag``, ``id := l_partkey``,
``pageviews := sum(l_extendedprice)`` (FIXTURES.md §B) — the same
operator DAG the reference runs on sitelink/pageview data.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.features import pivot_features
from ..operators.rank import normalized_rank
from ..sources.readers import read_events, read_table

ORACLES: dict[str, str] = {}


SITES = ["A", "N", "R"]  # l_returnflag domain (TPC-H)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    return read_table(spark, sf_dir, name)


def long_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → the reference's long form (site, id, pageviews).

    pageviews is rounded to 2dp BEFORE any ranking so downstream order
    is engine-independent."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_returnflag").alias("site"),
        F.col("l_partkey").cast("string").alias("id"),
    ).agg(F.round(F.sum("l_extendedprice"), 2).alias("pageviews"))


_LONG_SQL = """
    SELECT l_returnflag AS site,
           CAST(l_partkey AS VARCHAR) AS id,
           ROUND(SUM(l_extendedprice), 2) AS pageviews
    FROM lineitem
    GROUP BY 1, 2
"""

_RANKED_SQL = f"""
    SELECT site, id, pageviews,
           CAST(ROW_NUMBER() OVER (PARTITION BY site ORDER BY pageviews, id) AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY site) AS rank
    FROM ({_LONG_SQL})
"""


def ranked_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalized_rank(long_table(spark, sf_dir))


_PIVOT_SQL = f"""
    SELECT id,
           {', '.join(
               f'''COALESCE(MAX(CASE WHEN site = '{s}' THEN pageviews END), 0.0) AS "pageviews_{s}",
           COALESCE(MAX(CASE WHEN site = '{s}' THEN rank END), 0.0) AS "rank_{s}",
           COALESCE(MAX(CASE WHEN site = '{s}' THEN 1.0 END), 0.0) AS "exists_{s}"'''
               for s in SITES)}
    FROM ({_RANKED_SQL})
    GROUP BY id
"""


def feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pivot_features(ranked_table(spark, sf_dir), SITES)


def q_rank_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 — FeatureExtractor.scala:50-75 as window functions."""
    return ranked_table(spark, sf_dir)


ORACLES["rank_normalized"] = _RANKED_SQL


def q_feature_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5 — FeatureExtractor.scala:80-103 as groupBy().pivot()."""
    return feature_table(spark, sf_dir)


ORACLES["feature_pivot"] = _PIVOT_SQL


def q_feature_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse of A5: wide feature matrix back to long form via
    ``stack`` (Spark's unpivot) — one Generate per row, no shuffle at
    all; the wide→long direction is pure row-local expansion.  At scale
    this is how a 1+3·|sites| column matrix re-enters long-format
    processing without a per-column union of scans."""
    wide = feature_table(spark, sf_dir)
    stack_args = ", ".join(
        f"'{s}', pageviews_{s}, rank_{s}, exists_{s}" for s in SITES
    )
    return wide.select(
        "id",
        F.expr(
            f"stack({len(SITES)}, {stack_args}) AS (site, pageviews, rank, exists)"
        ),
    )


ORACLES["feature_unpivot"] = f"""
    WITH wide AS ({_PIVOT_SQL})
    SELECT id, 'A' AS site, "pageviews_A" AS pageviews, "rank_A" AS rank,
           "exists_A" AS "exists" FROM wide
    UNION ALL
    SELECT id, 'N', "pageviews_N", "rank_N", "exists_N" FROM wide
    UNION ALL
    SELECT id, 'R', "pageviews_R", "rank_R", "exists_R" FROM wide
"""


def q_customer_balance_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert shape: per-customer order spend merged into a
    customer target (restricted to nationkey < 13 so all three MERGE
    branches fire): matched rows update the balance, target-only rows
    keep it, source-only rows insert.  Expressed as one FULL OUTER
    join + CASE — a single shuffle on the merge key; at 100 TB the
    same plan under AQE, with the source side broadcast when small."""
    target = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 13)
    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    merged = target.join(spend, target["c_custkey"] == spend["o_custkey"], "full_outer")
    return merged.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.when(F.col("c_custkey").isNotNull() & F.col("o_custkey").isNotNull(), "update")
        .when(F.col("o_custkey").isNull(), "keep")
        .otherwise("insert")
        .alias("action"),
        F.round("c_acctbal", 2).alias("balance_before"),
        F.col("spend"),
        F.round(F.coalesce("c_acctbal", F.lit(0.0)) + F.coalesce("spend", F.lit(0.0)), 2).alias(
            "balance_after"
        ),
    )


ORACLES["customer_balance_merge"] = """
    WITH target AS (SELECT * FROM customer WHERE c_nationkey < 13),
    spend AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS spend
      FROM orders GROUP BY 1
    )
    SELECT COALESCE(c_custkey, o_custkey) AS custkey,
           CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'update'
                WHEN o_custkey IS NULL THEN 'keep'
                ELSE 'insert' END AS action,
           ROUND(c_acctbal, 2) AS balance_before,
           spend,
           ROUND(COALESCE(c_acctbal, 0.0) + COALESCE(spend, 0.0), 2) AS balance_after
    FROM target FULL OUTER JOIN spend ON c_custkey = o_custkey
"""


def q_exists_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — Utils.scala:30-32 exists-predicate as a native expression;
    (id, label) training projection for target site 'A'."""
    feats = feature_table(spark, sf_dir)
    return feats.filter(F.col("exists_A") == 1.0).select(
        "id", F.col("rank_A").alias("label")
    )


ORACLES["exists_filter"] = f"""
        SELECT id, "rank_A" AS label FROM ({_PIVOT_SQL}) WHERE "exists_A" = 1.0
    """


def q_predictions_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — ScorePredictor.scala:47 chained full-outer join fold."""
    ranked = ranked_table(spark, sf_dir)
    frames = [
        ranked.filter(F.col("site") == s).select("id", F.col("rank").alias(f"score_{s}"))
        for s in SITES
    ]

    return reduce(lambda l, r: l.join(r, ["id"], "outer"), frames)


ORACLES["predictions_fold"] = f"""
        WITH ranked AS ({_RANKED_SQL}),
        a AS (SELECT id, rank AS score_A FROM ranked WHERE site = 'A'),
        n AS (SELECT id, rank AS score_N FROM ranked WHERE site = 'N'),
        r AS (SELECT id, rank AS score_R FROM ranked WHERE site = 'R')
        SELECT id, score_A, score_N, score_R
        FROM a FULL JOIN n USING (id) FULL JOIN r USING (id)
    """


def q_ingest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — DataGatherer.scala:48 inner equi-join USING, on the star
    schema: orders ⋈ customer ⋈ nation ⋈ region, revenue per region.
    The DOMAIN-bounded dimensions (nation 25 rows, region 5 rows) are
    broadcast; customer is SF-scaled (150k × SF — ~TB at 100 TB), so it
    carries NO hint: AQE broadcasts it when it measures small and falls
    back to a shuffled hash join when it doesn't (round-3 verdict #2)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


ORACLES["ingest_join"] = """
        SELECT r_name,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — sum + GROUP BY (DataGatherer.scala:70-73), in its classic
    TPC-H Q1 shape: one scan, map-side partial agg, one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLES["pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """


def q_pricing_summary_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-frontend form of pricing_summary: the base table registered
    as a temp view and the ORACLE's own ANSI-SQL text submitted through
    spark.sql — one dialect-neutral query string runs unchanged on both
    engines, and Catalyst plans it identically to the DataFrame form
    (same pushdown, same single shuffle)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(ORACLES["pricing_summary_sql"])


ORACLES["pricing_summary_sql"] = ORACLES["pricing_summary"]


def q_count_by_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — countByValue kept distributed (FeatureExtractor.scala:51)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("site")).agg(
        F.count("*").alias("n_rows")
    )


ORACLES["count_by_site"] = """
        SELECT l_returnflag AS site, COUNT(*) AS n_rows FROM lineitem GROUP BY 1
    """


def q_distinct_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — distinct site list (JobRunner.scala:50)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(F.col("l_returnflag").alias("site")).distinct()


ORACLES["distinct_sites"] = """
        SELECT DISTINCT l_returnflag AS site FROM lineitem
    """


def q_suffix_filter_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/F1/F2 — endsWith filter + regex rewrite
    (DataGatherer.scala:94-98) on the part table."""
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_type").endswith("O"))
        .withColumn("brand_code", F.regexp_replace("p_brand", r"^Brand#", "B-"))
        .select("p_partkey", "p_type", "brand_code", "p_retailprice")
    )


ORACLES["suffix_filter_rewrite"] = """
        SELECT p_partkey, p_type,
               regexp_replace(p_brand, '^Brand#', 'B-') AS brand_code,
               p_retailprice
        FROM part WHERE p_type LIKE '%O'
    """


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 parts by revenue within each returnflag — window top-k
    (extension of §2.6; the reference has no top-k)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_returnflag", "l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("revenue").desc(), F.col("l_partkey").asc()
    )
    return (
        rev.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("l_returnflag", "l_partkey", "revenue", "rk")
    )


ORACLES["topk_per_group"] = """
        WITH rev AS (
          SELECT l_returnflag, l_partkey,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM lineitem GROUP BY 1, 2
        )
        SELECT l_returnflag, l_partkey, revenue,
               CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                       ORDER BY revenue DESC, l_partkey) AS BIGINT) AS rk
        FROM rev QUALIFY rk <= 5
    """


def q_median_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-sum window: per supplier, the first lineitem (by shipdate)
    at which cumulative quantity reaches half the supplier's total."""
    li = _t(spark, sf_dir, "lineitem")
    w_order = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    w_all = Window.partitionBy("l_suppkey")
    run = (
        li.select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .withColumn(
            "run_qty",
            F.sum("l_quantity").over(w_order.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("tot_qty", F.sum("l_quantity").over(w_all))
    )
    crossed = run.filter(F.col("run_qty") >= F.col("tot_qty") / 2)
    w_first = Window.partitionBy("l_suppkey").orderBy(
        "run_qty", "l_orderkey", "l_linenumber"
    )
    return (
        crossed.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("run_qty"), 2).alias("run_qty"),
            F.round(F.col("tot_qty"), 2).alias("tot_qty"),
        )
    )


ORACLES["median_crossing"] = """
        WITH run AS (
          SELECT l_suppkey, l_orderkey, l_linenumber,
                 SUM(l_quantity) OVER (PARTITION BY l_suppkey
                                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                                       ROWS UNBOUNDED PRECEDING) AS run_qty,
                 SUM(l_quantity) OVER (PARTITION BY l_suppkey) AS tot_qty
          FROM lineitem
        ),
        crossed AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                       ORDER BY run_qty, l_orderkey, l_linenumber) AS rn
          FROM run WHERE run_qty >= tot_qty / 2
        )
        SELECT l_suppkey, l_orderkey, l_linenumber,
               ROUND(run_qty, 2) AS run_qty, ROUND(tot_qty, 2) AS tot_qty
        FROM crossed WHERE rn = 1
    """


QUERIES = {
    "rank_normalized": q_rank_normalized,
    "feature_pivot": q_feature_pivot,
    "feature_unpivot": q_feature_unpivot,
    "customer_balance_merge": q_customer_balance_merge,
    "exists_filter": q_exists_filter,
    "predictions_fold": q_predictions_fold,
    "ingest_join": q_ingest_join,
    "pricing_summary": q_pricing_summary,
    "pricing_summary_sql": q_pricing_summary_sql,
    "count_by_site": q_count_by_site,
    "distinct_sites": q_distinct_sites,
    "suffix_filter_rewrite": q_suffix_filter_rewrite,
    "topk_per_group": q_topk_per_group,
    "median_crossing": q_median_crossing,
}
