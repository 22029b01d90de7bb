"""Warehouse analytics over the TPC-H tables: multi-level aggregation
(rollup, cube, grouping sets), set operations, semi/anti joins, skew
salting, window and scalar function breadth, statistical profiling,
data-quality checks and the SQL-frontend shapes (pipe syntax, lateral
joins, PIVOT/UNPIVOT).  The reference has none of these
(SURVEY.md §2.4/§2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import PandasUDFType, pandas_udf

from ..operators.cdc import snapshot_diff
from ..operators.graph import pagerank_integer
from ..operators.joins import salted_join
from ..operators.ordering import (
    range_partitioned_row_number,
    range_partitioned_running_max,
    range_partitioned_running_sum,
)
from ..sources.readers import read_table
from .core import _t

ORACLES: dict[str, str] = {}


def q_lineitem_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the 10 heaviest l_orderkey values with
    their row counts and share of the table (in 10⁻⁶ units, exact
    integer div) — the measurement behind choosing a salting factor
    (operators.joins.salted_join) or trusting AQE skew splitting.  One
    hash aggregate + a 1-row broadcast total + TakeOrdered."""
    li = _t(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count("*").alias("n_rows"))
    total = per_key.agg(F.sum("n_rows").cast("long").alias("t_rows"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .select(
            "l_orderkey",
            "n_rows",
            F.expr("(n_rows * 1000000) div t_rows").alias("share_ppm"),
        )
        .orderBy(F.col("n_rows").desc(), "l_orderkey")
        .limit(10)
    )


ORACLES["lineitem_skew_profile"] = """
    WITH per AS (SELECT l_orderkey, COUNT(*) AS n_rows
                 FROM lineitem GROUP BY l_orderkey),
    tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS t_rows FROM per)
    SELECT l_orderkey, n_rows,
           CAST((n_rows * 1000000) // t_rows AS BIGINT) AS share_ppm
    FROM per CROSS JOIN tot
    ORDER BY n_rows DESC, l_orderkey
    LIMIT 10
"""


def q_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): per-group, per-flag, and
    grand totals in ONE pass — Catalyst expands the grouping sets into
    a single Expand + aggregate, not three scans."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "sum_price",
            "n_rows",
        )
    )


# corpus_token_budget appended below (needs _quality_sql());
# dedup_clusters: iterative fixpoint, not SQL-expressible — rows-only.
ORACLES["pricing_rollup"] = """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_price,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """


def q_customer_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer counts split by has-orders: LEFT SEMI and
    LEFT ANTI joins against orders (both plan as one-sided hash joins —
    the orders side ships only its join key, never its payload)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    with_orders = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_with_orders"))
    )
    without = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_without_orders"))
    )
    return (
        with_orders.join(without, "c_nationkey", "outer")
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


ORACLES["customer_semi_anti"] = """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
               COUNT(*) FILTER (WHERE EXISTS (
                   SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with_orders,
               COUNT(*) FILTER (WHERE NOT EXISTS (
                   SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without_orders
        FROM customer
        GROUP BY c_nationkey
    """


def q_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over the customer-nation and
    supplier-nation key sets, tagged by operation."""
    cn = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    sn = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    return (
        cn.union(sn).distinct().withColumn("op", F.lit("union"))
        .union(cn.intersect(sn).withColumn("op", F.lit("intersect")))
        .union(cn.exceptAll(sn).withColumn("op", F.lit("except")))
        .select("op", F.col("nk").cast("long").alias("nationkey"))
    )


ORACLES["nation_set_ops"] = """
        WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
             sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
        SELECT 'union' AS op, CAST(nk AS BIGINT) AS nationkey
          FROM (SELECT nk FROM cn UNION SELECT nk FROM sn)
        UNION ALL
        SELECT 'intersect', CAST(nk AS BIGINT)
          FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
        UNION ALL
        SELECT 'except', CAST(nk AS BIGINT)
          FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
    """


def q_orders_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join: lineitem ⋈ orders on orderkey with
    an 8-way salt (operators.joins.salted_join), aggregated to revenue
    per order priority.  Result is EXACTLY the unsalted join — the
    oracle is the plain SQL join — but each hot orderkey's rows spread
    over 8 shuffle partitions instead of one reducer (the salt factor
    scales with the observed skew, not the data size)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount", "l_linenumber")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(li, orders, "l_orderkey", "o_orderkey", salt=8)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


ORACLES["orders_salted_join"] = """
        SELECT o_orderpriority,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """


def q_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family per return flag: sample stddev,
    Pearson correlation, sample covariance, and the exact interpolated
    median (percentile 0.5) — all JVM-side aggregates in one pass, one
    shuffle with map-side partials."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("cov_qty_disc"),
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        )
    )


ORACLES["lineitem_stats"] = """
        SELECT l_returnflag,
               ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
               ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS cov_qty_disc,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS median_price
        FROM lineitem
        GROUP BY l_returnflag
    """


def q_pricing_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping-set
    levels in ONE pass (Catalyst Expand + single aggregate, same as
    rollup but with the extra per-linestatus marginal).  grouping_id
    disambiguates levels exactly — no sentinel-collision risk."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "sum_qty",
            "sum_disc_price",
            "n_rows",
        )
    )


ORACLES["pricing_cube"] = """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape (orders above their customer's
    average order value), decorrelated into a single window pass: the
    per-customer average rides an AVG() OVER (PARTITION BY custkey)
    instead of a self-join — one shuffle on custkey, no second scan."""
    orders = _t(spark, sf_dir, "orders")
    # prices are 2-decimal values stored as doubles; integer cents make
    # every comparison and the avg exact (no float summation-order or
    # ROUND-at-.5 divergence between engines)
    w = Window.partitionBy("o_custkey")
    with_cents = orders.withColumn(
        "tp_cents", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    sum_cents = F.sum("tp_cents").over(w)
    n = F.count("*").over(w)
    return (
        with_cents.select(
            "o_custkey",
            "o_orderkey",
            F.col("tp_cents"),
            F.floor(sum_cents / n).cast("long").alias("cust_avg_cents"),
            n.cast("long").alias("n_orders"),
            sum_cents.alias("_sum"),
        )
        .filter(F.col("tp_cents") * F.col("n_orders") > F.col("_sum"))
        .drop("_sum")
    )


ORACLES["orders_above_cust_avg"] = """
    WITH c AS (
      SELECT o_custkey, o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS tp_cents
      FROM orders
    ), w AS (
      SELECT *,
             SUM(tp_cents) OVER (PARTITION BY o_custkey) AS sum_cents,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
      FROM c
    )
    SELECT o_custkey, o_orderkey, tp_cents,
           CAST(FLOOR(sum_cents * 1.0 / n_orders) AS BIGINT) AS cust_avg_cents,
           CAST(n_orders AS BIGINT) AS n_orders
    FROM w WHERE tp_cents * n_orders > sum_cents
"""


def q_orders_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/navigation window-function breadth over each customer's
    order history: ntile, cume_dist, percent_rank, lag/lead,
    first/last_value — all six share ONE (custkey, date) sort, so the
    whole family costs a single exchange.  Money rides integer cents;
    cume_dist/percent_rank are exact rank ratios (identical doubles
    cross-engine, no rounding needed)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
        F.lag(cents).over(w).alias("prev_cents"),
        F.lead(cents).over(w).alias("next_cents"),
        F.first(cents).over(w).alias("first_cents"),
        F.last(cents).over(wfull).alias("last_cents"),
    )


ORACLES["orders_window_funcs"] = """
    SELECT o_custkey, o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           cume_dist() OVER w AS cd,
           percent_rank() OVER w AS pr,
           lag(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS prev_cents,
           lead(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS next_cents,
           first_value(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS first_cents,
           last_value(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_lineitem_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based window breadth: per-part moving sum (ROWS 3
    PRECEDING) and running cumulative sum over ship order.  Both
    frames share one (partkey, shipdate) sort; sums are integer cents
    so frame arithmetic is exact at any accumulation order."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    mov = w.rowsBetween(-3, Window.currentRow)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return li.select(
        F.col("l_partkey").cast("long").alias("partkey"),
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("linenumber"),
        F.sum(cents).over(mov).alias("mov_cents"),
        F.sum(cents).over(cum).alias("cum_cents"),
    )


ORACLES["lineitem_moving_sum"] = """
    SELECT CAST(l_partkey AS BIGINT) AS partkey, l_orderkey,
           CAST(l_linenumber AS BIGINT) AS linenumber,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
             OVER (PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
             OVER (PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
    FROM lineitem
"""


def q_orders_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar-function breadth: trunc-to-month, calendar
    extracts, day-of-week/yr, interval add (month-end clamped), day
    diff, last-day — every one a native expression (codegen, zero
    shuffle) exported as epoch-µs/long for engine-neutral compare.
    Spark dayofweek is 1=Sunday; −1 aligns it to DuckDB's 0=Sunday."""
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.unix_micros(F.date_trunc("month", d)).alias("month_us"),
        F.year(d).cast("long").alias("yr"),
        F.quarter(d).cast("long").alias("qtr"),
        (F.dayofweek(d) - 1).cast("long").alias("dow"),
        F.dayofyear(d).cast("long").alias("doy"),
        F.unix_micros(F.add_months(d, 3).cast("timestamp")).alias("plus3m_us"),
        F.datediff(F.lit("1998-01-01").cast("date"), d).cast("long").alias("days_to_98"),
        F.unix_micros(F.last_day(d).cast("timestamp")).alias("month_end_us"),
    )


ORACLES["orders_date_funcs"] = """
    SELECT o_orderkey,
           epoch_us(date_trunc('month', o_orderdate)) AS month_us,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
           CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
           CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
           CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
           epoch_us(o_orderdate + INTERVAL 3 MONTH) AS plus3m_us,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-01-01') AS BIGINT)
             AS days_to_98,
           epoch_us(CAST(last_day(o_orderdate) AS TIMESTAMP)) AS month_end_us
    FROM orders
"""


def q_lineitem_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (quartiles of quantity + p95 of
    price-in-cents) per return flag — Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the linear-interpolation definition, so
    the comparison is exact.  One aggregate pass; at 100 TB swap to
    ``percentile_approx`` (t-digest sketch, same call shape, bounded
    memory per group)."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("q_p25"),
        F.percentile("l_quantity", 0.5).alias("q_p50"),
        F.percentile("l_quantity", 0.75).alias("q_p75"),
        F.percentile(cents, 0.95).alias("cents_p95"),
    )


ORACLES["lineitem_percentiles"] = """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q_p25,
           quantile_cont(l_quantity, 0.5) AS q_p50,
           quantile_cont(l_quantity, 0.75) AS q_p75,
           quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.95) AS cents_p95
    FROM lineitem GROUP BY 1
"""


def q_pricing_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((returnflag), (linestatus), ()) — the
    asymmetric grouping-set shape rollup/cube can't express.  Same
    physical plan family: ONE Expand + one aggregate, one shuffle.
    Runs through the SQL frontend to keep that surface exercised."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gsets")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM li_gsets
        WHERE l_shipdate <= '1998-09-02'
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


ORACLES["pricing_grouping_sets"] = """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def _pagerank_sql(n_iter: int = 6, damping_pct: int = 85,
                  scale: int = 10**12) -> str:
    """DuckDB twin of q_part_pagerank: the same integer fixed-point
    iterations unrolled as chained CTEs (aggregates are not allowed in
    a recursive CTE's recursive term, so a fixed iteration count
    unrolls instead — same shape as the minhash SQL builders)."""
    tp = 100 - damping_pct
    iters = []
    for i in range(n_iter):
        iters.append(f"""r{i + 1} AS (
      SELECT n.node,
             ({tp} * p.base) // 100 + ({damping_pct} * COALESCE(c.s, 0)) // 100
               AS rank_int
      FROM nodes n CROSS JOIN p
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r{i}.rank_int * e.w // o.w_out) AS s
        FROM edges e
        JOIN r{i} ON r{i}.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst) c ON c.node = n.node)""")
    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS w
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    p AS (SELECT {scale} // COUNT(*) AS base FROM nodes),
    outw AS (SELECT src, SUM(w) AS w_out FROM edges GROUP BY 1),
    r0 AS (SELECT node, p.base AS rank_int FROM nodes CROSS JOIN p),
    {",".join(iters)}
    SELECT node, CAST(rank_int AS BIGINT) AS rank_int FROM r{n_iter}
"""


def q_lineitem_yearly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per return flag: exact-integer
    yearly revenue (10^-4 dollars) + a lag window; growth is the raw
    IEEE quotient of two exact longs (identical cross-engine without
    any rounding step).  First year is NULL."""
    li = _t(spark, sf_dir, "lineitem")
    rev_unit = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    yearly = li.groupBy(
        "l_returnflag", F.year("l_shipdate").cast("long").alias("yr")
    ).agg(F.sum(rev_unit).alias("rev_e4"))
    w = Window.partitionBy("l_returnflag").orderBy("yr")
    prev = F.lag("rev_e4").over(w)
    return yearly.select(
        "l_returnflag",
        "yr",
        (F.col("rev_e4") / 10000.0).alias("revenue"),
        ((F.col("rev_e4") - prev).cast("double") * 10000.0 / prev).alias("growth_bp"),
    )


ORACLES["lineitem_yearly_growth"] = """
    WITH yearly AS (
      SELECT l_returnflag,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_e4
      FROM lineitem GROUP BY 1, 2)
    SELECT l_returnflag, yr,
           rev_e4 / 10000.0 AS revenue,
           CAST(rev_e4 - lag(rev_e4) OVER w AS DOUBLE) * 10000.0
             / lag(rev_e4) OVER w AS growth_bp
    FROM yearly
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY yr)
"""


def q_lineitem_udaf_wavg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate Pandas UDAF (the Arrow GROUPED_AGG surface,
    completing the UDF/UDTF/UDAF triple next to doc_chunks_udtf):
    quantity-weighted average price per return flag, computed INSIDE
    the worker in exact int64 cents so the result is bit-identical to
    the SQL oracle.  Like the UDTF entry, this deliberately exercises
    the UDAF path itself — the native equivalent (sum/sum of the same
    integer exprs) is one line and preferred in a real pipeline
    (SURVEY §2.10 rule: Python only where the surface, not the math,
    is the point)."""

    # explicit functionType: this module's `from __future__ import
    # annotations` stringifies type hints, which defeats pandas_udf's
    # signature inference for the GROUPED_AGG eval type
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def wavg_cents(price, qty):
        cents = (price * 100).round().astype("int64")
        q = qty.round().astype("int64")
        return int((cents * q).sum() // q.sum())

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(wavg_cents("l_extendedprice", "l_quantity").alias("wavg_cents"))
    )


ORACLES["lineitem_udaf_wavg"] = """
        SELECT l_returnflag,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * CAST(ROUND(l_quantity) AS BIGINT))
                    // SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                 AS wavg_cents
        FROM lineitem GROUP BY 1
    """


def q_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair affinity: the 20 part pairs most often bought
    in the same order, with per-part support — the pairwise
    frequent-itemset shape.  Same inverted-index discipline as the
    dedup joins: self-equi-join on the order key (never all parts ×
    all parts), count per pair, exact integer supports.  At scale the
    hot keys are huge orders — cap basket size upstream exactly like
    the shingle doc-frequency cap."""
    # both join sides reference the distinct basket relation —
    # materialize it once (same discipline as the simhash signatures)
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct().localCheckpoint()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .groupBy(F.col("a.pk").alias("part_a"), F.col("b.pk").alias("part_b"))
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        pairs.orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
        .select("part_a", "part_b", "n_orders")
    )


ORACLES["basket_part_pairs"] = """
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem)
    SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS n_orders
    FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
    GROUP BY a.pk, b.pk
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
"""


def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total: each nation's share of global revenue — the
    ratio-to-report window shape.  The share window runs over the
    ALREADY-AGGREGATED 25-row nation relation (bounded by the domain,
    not the data), so its single-partition exchange moves 25 rows; the
    data-sized work is one broadcast join + one hash aggregate.
    Revenue rides as exact integer 10⁻⁴ dollars; the share is one IEEE
    division of exact longs.  customer is SF-scaled so it carries no
    broadcast hint (AQE decides); only the 25-row nation is hinted."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev_e2 = F.round(F.col("o_totalprice") * 100).cast("long")
    per_nation = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(rev_e2).alias("rev_e2"))
    )
    total = F.sum("rev_e2").over(Window.partitionBy())
    return per_nation.select(
        "n_name",
        (F.col("rev_e2") / 100.0).alias("revenue"),
        F.round(F.col("rev_e2") / total * 100, 6).alias("share_pct"),
    )


ORACLES["nation_revenue_share"] = """
    WITH per AS (
      SELECT n_name,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_e2
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name)
    SELECT n_name,
           rev_e2 / 100.0 AS revenue,
           ROUND(rev_e2 / SUM(rev_e2) OVER () * 100, 6) AS share_pct
    FROM per
"""


def q_orders_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by first-order month
    (the cohort), counted by months-since-first-order — the classic
    product-analytics shape.  The cohort assignment is a per-customer
    min window; months_since is exact integer month arithmetic
    (months_between over date_trunc'd months), so the matrix is
    engine-exact."""
    orders = _t(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    w = Window.partitionBy("o_custkey")
    base = orders.select(
        F.col("o_custkey"), month.alias("order_month")
    ).withColumn("cohort_month", F.min("order_month").over(w))
    out = (
        base.withColumn(
            "months_since",
            F.months_between("order_month", "cohort_month").cast("long"),
        )
        .groupBy("cohort_month", "months_since")
        .agg(F.count_distinct("o_custkey").alias("n_customers"))
        .select(
            F.unix_micros("cohort_month").alias("cohort_us"),
            "months_since",
            "n_customers",
        )
    )
    return out


ORACLES["orders_cohort_retention"] = """
    WITH base AS (
      SELECT o_custkey,
             date_trunc('month', o_orderdate) AS order_month,
             MIN(date_trunc('month', o_orderdate))
               OVER (PARTITION BY o_custkey) AS cohort_month
      FROM orders)
    SELECT CAST(floor(epoch(cohort_month)) AS BIGINT) * 1000000 AS cohort_us,
           CAST(datediff('month', cohort_month, order_month) AS BIGINT)
             AS months_since,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM base
    GROUP BY cohort_month, datediff('month', cohort_month, order_month)
"""


def q_lineitem_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bin histogram of extended price — the profiling
    shape: min/max come from a 1-row broadcast scalar aggregate, bin
    assignment is pure arithmetic on the scan, and the final count is
    one hash aggregate on a ≤ 21-key space.  Exact integer cents avoid
    float boundary jitter cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    base = li.select(cents.alias("c"))
    bounds = base.agg(
        F.min("c").alias("lo"), F.max("c").alias("hi")
    )
    binned = base.crossJoin(F.broadcast(bounds)).withColumn(
        "bin",
        F.expr("least(((c - lo) * 20) div greatest(hi - lo + 1, 1), 19)").cast("long"),
    )
    return (
        binned.groupBy("bin")
        .agg(F.count("*").alias("n_rows"))
        .select("bin", "n_rows")
    )


ORACLES["lineitem_price_histogram"] = """
    WITH c AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
               FROM lineitem),
    b AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM c)
    SELECT CAST(LEAST(((c - lo) * 20) // GREATEST(hi - lo + 1, 1), 19)
                AS BIGINT) AS bin,
           COUNT(*) AS n_rows
    FROM c CROSS JOIN b
    GROUP BY 1
"""


def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank over the part co-purchase graph
    (operators.graph.pagerank_integer): edges = ordered part pairs
    sharing an order (weight = co-occurrence count), 6 damped
    iterations in 10¹² fixed-point.  Because every step is integer
    arithmetic (associative sums, truncating division mirrored by
    DuckDB's ``//`` on nonnegative operands), the iterative algorithm
    is hash-checked against an oracle that UNROLLS the same six
    iterations as chained CTEs — an exact cross-engine fixture for a
    class of computation (iterative graph analytics) that floating
    point would make unverifiable."""

    # distinct first: a part appearing on several lines of one order
    # must count that order once, and the pair self-join runs over the
    # deduped (order, part) relation — smaller fan-out, same graph.
    # r14 (guide §2.4 share one exchange): repartition by l_orderkey
    # BEFORE the distinct — hash(l_orderkey) clusters every (o, p)
    # duplicate into one partition, so it satisfies the distinct's
    # ClusteredDistribution([o, p]) AND is exactly the partitioning the
    # self-join needs; the former plan shuffled by (o, p) for the
    # distinct and then re-shuffled both aliases by o for the join
    # (plan diff: 2 Exchange subtrees on the big relation -> 1,
    # plans/r14/part_pagerank_edges_{before,after}.txt).
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pagerank_integer(edges, n_iter=6, damping_pct=85)


ORACLES["part_pagerank"] = _pagerank_sql(n_iter=6, damping_pct=85)


def q_orders_capped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running balance CLAMPED at a credit cap after every
    order (``LEAST(cap, bal + price)``; credit limits, capacity-clamped
    inventory).  The clamp makes the fold non-associative, so no window
    aggregate or two-pass partial-sum trick can express it: the chain
    is folded in order, per customer, inside one grouped row (see
    :func:`capped_balance_walk`).  Output is the balance checkpoint
    after every chunk of 8 orders.  All math is integer cents, so the
    chain is bit-exact cross-engine; the DuckDB oracle computes the
    same checkpoints with a recursive CTE and ``list_reduce``.  (The
    catalog's Spark ``WITH RECURSIVE`` row is ``orders_month_spine``.)"""
    # the window partitions by the renamed key, so the walk's
    # GROUP BY custkey reuses its exchange
    ord_df = spark.sql(
        """
        SELECT custkey, cents,
               ROW_NUMBER() OVER (PARTITION BY custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM (SELECT o_custkey AS custkey,
                     CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                     o_orderdate, o_orderkey
              FROM {orders})
        """,
        orders=read_table(spark, sf_dir, "orders"),
    )
    return capped_balance_walk(spark, ord_df, cap=50000000, chunk_size=8)


ORACLES["orders_capped_balance"] = """
    WITH RECURSIVE ord AS (
      SELECT o_custkey AS custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    chunks AS (
      SELECT custkey, CAST((rn - 1) // 8 AS BIGINT) AS chunk,
             list(cents ORDER BY rn) AS cents_arr
      FROM ord GROUP BY custkey, (rn - 1) // 8
    ),
    walk(custkey, chunk, bal_cents) AS (
      SELECT custkey, chunk,
             list_reduce(list_prepend(CAST(0 AS BIGINT), cents_arr),
                         (acc, x) -> LEAST(CAST(50000000 AS BIGINT), acc + x))
      FROM chunks WHERE chunk = 0
      UNION ALL
      SELECT c.custkey, c.chunk,
             list_reduce(list_prepend(w.bal_cents, c.cents_arr),
                         (acc, x) -> LEAST(CAST(50000000 AS BIGINT), acc + x))
      FROM walk w JOIN chunks c
        ON c.custkey = w.custkey AND c.chunk = w.chunk + 1
    )
    SELECT custkey, chunk, bal_cents FROM walk
"""


def capped_balance_walk(spark: SparkSession, ord_df: DataFrame,
                        cap: int, chunk_size: int = 8) -> DataFrame:
    """The clamp fold behind q_orders_capped_balance, factored so
    property tests can drive it with generated chains.  ``ord_df`` is
    (custkey, cents, rn) with rn 1-based per custkey; returns
    (custkey, chunk, bal_cents) — the clamped balance checkpoint after
    each ``chunk_size``-order chunk.

    One grouped pass, no eager job: per customer, the rn-sorted cents
    are sliced into chunks, and an outer ``aggregate`` over the chunks
    carries the balance through the inner per-order clamp fold while
    appending each chunk's closing balance; ``posexplode`` turns the
    list into rows.  The outer fold copies its output array once per
    chunk, so its cost is quadratic in chunks per customer — fine for
    order chains of tens of orders (TPC-H), where the recursive CTE it
    replaces paid one Spark job per chunk level instead.  A customer's
    whole chain must fit in one row."""
    return spark.sql(
        """
        SELECT custkey, CAST(chunk AS BIGINT) AS chunk, bal_cents
        FROM (
          SELECT custkey,
                 posexplode(aggregate(
                   transform(sequence(0, (size(cents) - 1) DIV {k}),
                             i -> slice(cents, i * {k} + 1, {k})),
                   named_struct('bal', CAST(0 AS BIGINT),
                                'out', CAST(array() AS ARRAY<BIGINT>)),
                   (acc, a) -> aggregate(
                     a, acc.bal,
                     (bal, x) -> LEAST(CAST({cap} AS BIGINT), bal + x),
                     bal -> named_struct('bal', bal,
                                         'out', concat(acc.out, array(bal))))
                 ).out) AS (chunk, bal_cents)
          FROM (SELECT custkey,
                       transform(array_sort(collect_list(struct(rn, cents))),
                                 x -> x.cents) AS cents
                FROM {ord} GROUP BY custkey)
        )
        """,
        ord=ord_df, k=int(chunk_size), cap=int(cap),
    )


def q_lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem measures in ONE
    aggregation pass (three corr aggregates share the scan; Catalyst
    computes all co-moments map-side), unpivoted to the long
    (var_x, var_y, corr) triangle via ``stack`` on the 1-row result —
    the profile shape a feature-selection pass consumes."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_discount"),
    ]
    agg = li.agg(
        *[F.round(F.corr(a, b), 6).alias(f"c{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack = ", ".join(f"'{a}', '{b}', c{i}" for i, (a, b) in enumerate(pairs))
    return agg.select(
        F.expr(f"stack({len(pairs)}, {stack}) AS (var_x, var_y, corr)")
    )


ORACLES["lineitem_corr_matrix"] = """
    WITH s AS (
      SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS c0,
             ROUND(corr(l_quantity, l_discount), 6) AS c1,
             ROUND(corr(l_extendedprice, l_discount), 6) AS c2
      FROM lineitem)
    SELECT 'l_quantity' AS var_x, 'l_extendedprice' AS var_y, c0 AS corr FROM s
    UNION ALL
    SELECT 'l_quantity', 'l_discount', c1 FROM s
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount', c2 FROM s
"""


def q_supplier_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto/ABC) analysis: suppliers ranked by
    revenue with cumulative share of total and the 80%-band flag.  The
    cumulative sum over the revenue-descending total order uses the
    range-partitioned two-pass helper — NO single-partition exchange,
    the same plan that orders 10⁸ suppliers; the grand total joins
    back as a broadcast scalar.  Revenue is rounded BEFORE ranking so
    the descending order is engine-deterministic, and the running sum
    runs over EXACT integer cents (the 2-decimal round makes cents
    lossless) — integer addition is associative, so the two-pass
    partial-sums-then-offset plan matches the oracle's sequential
    window bit-for-bit regardless of accumulation order; a double
    running sum would differ in the last ulp between engines and
    flake the 6-decimal cum_share at a rounding boundary."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    rev = rev.withColumn("_cents", F.round(F.col("revenue") * 100).cast("long"))
    total = rev.agg(F.sum("_cents").alias("total_cents"))
    ranked = range_partitioned_running_sum(
        rev,
        [F.col("revenue").desc(), F.col("l_suppkey")],
        "_cents",
        out_col="cum_cents",
    )
    share = F.round(F.col("cum_cents") / F.col("total_cents"), 6)
    return ranked.crossJoin(F.broadcast(total)).select(
        "l_suppkey",
        "revenue",
        share.alias("cum_share"),
        (share <= 0.8).alias("in_top80"),
    )


ORACLES["supplier_pareto"] = """
    WITH r AS (
      SELECT l_suppkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem GROUP BY 1),
    rc AS (
      SELECT l_suppkey, revenue,
             CAST(ROUND(revenue * 100) AS BIGINT) AS cents
      FROM r),
    t AS (SELECT SUM(cents) AS total_cents FROM rc),
    c AS (
      SELECT l_suppkey, revenue,
             SUM(cents) OVER (ORDER BY revenue DESC, l_suppkey
                              ROWS UNBOUNDED PRECEDING) AS cum_cents
      FROM rc)
    SELECT l_suppkey, revenue,
           ROUND(cum_cents / total_cents, 6) AS cum_share,
           ROUND(cum_cents / total_cents, 6) <= 0.8 AS in_top80
    FROM c, t
"""


def q_lineitem_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the Deequ/Great-Expectations
    shape): completeness, domain bounds, key uniqueness and referential
    integrity as a long (check, metric) report.  All scan-local checks
    fold into ONE aggregation pass over lineitem (stack-unpivoted from
    the 1-row result); the referential check is a left-anti join
    against orders — at scale the only shuffle, on the join key."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("ok"))
    one = li.agg(
        F.count(F.lit(1)).cast("long").alias("row_count"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_shipdate"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("nonpositive_quantity"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("discount_out_of_range"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("l_orderkey"), F.col("l_linenumber")))
        .cast("long")
        .alias("dup_order_line"),
    )
    scan_checks = one.select(
        F.expr(
            "stack(5, 'row_count', row_count,"
            " 'null_shipdate', null_shipdate,"
            " 'nonpositive_quantity', nonpositive_quantity,"
            " 'discount_out_of_range', discount_out_of_range,"
            " 'dup_order_line', dup_order_line) AS (check, metric)"
        )
    )
    orphans = (
        li.select("l_orderkey")
        .join(orders, li["l_orderkey"] == orders["ok"], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("metric"))
        .select(F.lit("orphan_lineitems").alias("check"), "metric")
    )
    return scan_checks.unionByName(orphans)


ORACLES["lineitem_dq_checks"] = """
    SELECT 'row_count' AS check, COUNT(*) AS metric FROM lineitem
    UNION ALL
    SELECT 'null_shipdate',
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'nonpositive_quantity',
           CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'discount_out_of_range',
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'dup_order_line',
           COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
    FROM lineitem
    UNION ALL
    SELECT 'orphan_lineitems',
           (SELECT COUNT(*) FROM lineitem l
            LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL)
"""


def q_orders_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the SQL frontend: each
    customer's top-3 orders by price — the per-row-subquery shape SQL
    users write, planned by Catalyst as a single joined/windowed plan
    (NOT one subquery execution per customer; compare the DataFrame
    formulation in ``topk_per_group``, catalog.core).  Customers with no
    orders drop out (inner lateral semantics, both engines)."""
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey,
               ROUND(t.o_totalprice, 2) AS totalprice
        FROM {customer} c,
        LATERAL (SELECT o_orderkey, o_totalprice
                 FROM {orders} o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 3) t
        """,
        customer=read_table(spark, sf_dir, "customer"),
        orders=read_table(spark, sf_dir, "orders"),
    )


ORACLES["orders_lateral_topk"] = """
    SELECT c.c_custkey, t.o_orderkey, ROUND(t.o_totalprice, 2) AS totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice
             FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             LIMIT 3) t
"""


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic CRM scoring: per customer, days since last order,
    order count, total spend, each quintiled over the customer base
    and folded into a 3-digit RFM code.

    Quintiles are computed from range-partitioned global row numbers
    (NO single-partition NTILE window) with the explicit tile formula
    ``floor((rn-1)·5/n)+1`` — an NTILE-like equi-width tiling, NOT
    NTILE-identical when n isn't divisible by 5 (NTILE front-loads the
    remainder rows into the first buckets; this formula spreads them),
    reproduced verbatim in the oracle so both engines tile the same
    total order (every ordering carries the custkey tie-break).  The
    anchor date and customer count fold back as broadcast scalars."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    anchor = orders.agg(F.max(F.to_date("o_orderdate")).alias("anchor"))
    base = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("anchor", "last_order").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary",
    )
    ranked = range_partitioned_row_number(
        base, [F.col("recency_days"), F.col("o_custkey")], out_col="r_rn"
    )
    ranked = range_partitioned_row_number(
        ranked,
        [F.col("frequency").desc(), F.col("o_custkey")],
        out_col="f_rn",
    )
    ranked = range_partitioned_row_number(
        ranked,
        [F.col("monetary").desc(), F.col("o_custkey")],
        out_col="m_rn",
    )
    total = base.agg(F.count(F.lit(1)).alias("n_cust"))

    def tile(rn):
        return (F.floor((F.col(rn) - 1) * 5 / F.col("n_cust")) + 1).cast("long")

    return ranked.crossJoin(F.broadcast(total)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        tile("r_rn").alias("r_q"),
        tile("f_rn").alias("f_q"),
        tile("m_rn").alias("m_q"),
        (tile("r_rn") * 100 + tile("f_rn") * 10 + tile("m_rn")).alias("rfm"),
    )


ORACLES["customer_rfm"] = """
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate::DATE) AS last_order,
             COUNT(*) AS frequency,
             ROUND(SUM(o_totalprice), 2) AS monetary
      FROM orders GROUP BY 1),
    base AS (
      SELECT o_custkey,
             CAST(date_diff('day', last_order,
                            (SELECT MAX(o_orderdate::DATE) FROM orders))
                  AS BIGINT) AS recency_days,
             CAST(frequency AS BIGINT) AS frequency, monetary
      FROM per_cust),
    rn AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY recency_days, o_custkey) AS r_rn,
             ROW_NUMBER() OVER (ORDER BY frequency DESC, o_custkey) AS f_rn,
             ROW_NUMBER() OVER (ORDER BY monetary DESC, o_custkey) AS m_rn,
             COUNT(*) OVER () AS n_cust
      FROM base)
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(((r_rn - 1) * 5) // n_cust + 1 AS BIGINT) AS r_q,
           CAST(((f_rn - 1) * 5) // n_cust + 1 AS BIGINT) AS f_q,
           CAST(((m_rn - 1) * 5) // n_cust + 1 AS BIGINT) AS m_q,
           CAST((((r_rn - 1) * 5) // n_cust + 1) * 100
                + (((f_rn - 1) * 5) // n_cust + 1) * 10
                + (((m_rn - 1) * 5) // n_cust + 1) AS BIGINT) AS rfm
    FROM rn
"""


def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (operators.cdc.snapshot_diff): two synthetic
    generations of the orders table — rows dropped, rows added, a
    third repriced — reduced to the insert/update/delete change set
    via ONE full-outer join on the key.  The change set is what an
    incremental consumer replays; its size tracks churn, not table
    size."""

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    old = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    # repricing doubles (binary-exact — a 1.1× factor would park half
    # the values on .xx5 decimal-rounding boundaries where Spark's
    # shortest-repr HALF_UP and DuckDB's exact-binary round disagree)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.round(
            F.when(
                F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")),
            2,
        ).alias("price"),
    )
    return snapshot_diff(old, new, ["o_orderkey"], ["price"])


ORACLES["orders_snapshot_diff"] = """
    WITH old AS (
      SELECT o_orderkey, ROUND(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 7 <> 0),
    new AS (
      SELECT o_orderkey,
             ROUND(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                        ELSE o_totalprice END, 2) AS price
      FROM orders WHERE o_orderkey % 5 <> 0)
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'insert'
                WHEN new.o_orderkey IS NULL THEN 'delete'
                WHEN old.price IS DISTINCT FROM new.price THEN 'update'
           END AS action,
           old.price AS old_price, new.price AS new_price
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE CASE WHEN old.o_orderkey IS NULL THEN 'insert'
               WHEN new.o_orderkey IS NULL THEN 'delete'
               WHEN old.price IS DISTINCT FROM new.price THEN 'update'
          END IS NOT NULL
"""


def q_pricing_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL aggregation beside the catalog's double-based
    twins: prices cast to DECIMAL(18,2) / discounts to DECIMAL(18,4)
    at the scan, summed exactly per return flag — no floating-point
    drift, no summation-order dependence, identical digits on any
    cluster size.  At 100 TB this is the money-column discipline:
    a double sum over 10¹¹ rows carries ~10⁻⁵ relative error and
    changes with partitioning, a decimal sum is exact and
    deterministic (and stays inside Tungsten codegen — UnsafeRow
    stores small decimals as longs).  Exported as strings so both
    engines compare digit-for-digit, not via float parsing."""
    li = _t(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    d = F.col("l_discount").cast("decimal(18,4)")
    rev = (p * (F.lit(1).cast("decimal(18,4)") - d)).cast("decimal(30,6)")
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(p).cast("decimal(38,2)").alias("sum_price_dec"),
            F.sum(rev).cast("decimal(38,6)").alias("sum_revenue_dec"),
        )
        .select(
            "flag",
            "n",
            F.col("sum_price_dec").cast("string").alias("sum_price"),
            F.col("sum_revenue_dec").cast("string").alias("sum_revenue"),
        )
    )


ORACLES["pricing_decimal_exact"] = """
    SELECT l_returnflag AS flag,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                     AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
           CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (CAST(1 AS DECIMAL(18,4))
                                 - CAST(l_discount AS DECIMAL(18,4)))
                              AS DECIMAL(30,6)))
                     AS DECIMAL(38,6)) AS VARCHAR) AS sum_revenue
    FROM lineitem GROUP BY 1
"""


def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (price low, size high) — the multi-criteria shortlist operator.
    Sweep-line formulation: distinct (price, size) pairs ordered by
    (price asc, size desc); a pair is dominated iff the running max of
    size over STRICTLY PRECEDING pairs reaches its size (ties on both
    dims are mutually non-dominating and survive together).  The sweep
    is the range-partitioned running max — no single-partition window,
    and NEVER the O(n²) dominance join the oracle uses (NOT EXISTS is
    the semantic spec; the sweep is the plan that survives 10⁸ rows).
    Price is rounded before ordering (engine-deterministic sweep)."""

    parts = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )
    pairs = parts.select("price", "size").distinct()
    swept = range_partitioned_running_max(
        pairs,
        [F.col("price").asc(), F.col("size").desc()],
        "size",
        out_col="prev_max",
        inclusive=False,
    )
    sky = swept.filter(
        ~F.coalesce(F.col("prev_max") >= F.col("size"), F.lit(False))
    ).select("price", "size")
    return parts.join(sky, ["price", "size"]).select("p_partkey", "price", "size")


ORACLES["part_skyline"] = """
    WITH p AS (
      SELECT p_partkey, ROUND(p_retailprice, 2) AS price,
             CAST(p_size AS BIGINT) AS size
      FROM part)
    SELECT a.p_partkey, a.price, a.size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price <= a.price AND b.size >= a.size
        AND (b.price < a.price OR b.size > a.size))
"""


def q_lineitem_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of extended price: 20 buckets holding
    (nearly) equal row counts, each reporting its boundaries — the
    quantile-based companion of `lineitem_price_histogram`'s
    equal-WIDTH bins, and the statistics an optimizer actually wants
    for skewed columns.  Bucket assignment is the NTILE-equivalent
    formula over range-partitioned global row numbers — an exact
    global ordering of the full fact table with no single-partition
    exchange (this is the expensive-but-correct exact form; the cheap
    approximate form is `approx_percentile`, `events_sketch_stats`).
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.round("l_extendedprice", 2).alias("price"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = range_partitioned_row_number(
        li,
        [F.col("price"), F.col("l_orderkey"), F.col("l_linenumber")],
        out_col="rn",
    )
    total = li.agg(F.count(F.lit(1)).alias("n_rows_total"))
    bucket = F.floor((F.col("rn") - 1) * 20 / F.col("n_rows_total")).cast("long")
    return (
        ranked.crossJoin(F.broadcast(total))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("price").alias("lo"),
            F.max("price").alias("hi"),
        )
    )


ORACLES["lineitem_equidepth_histogram"] = """
    WITH r AS (
      SELECT ROUND(l_extendedprice, 2) AS price,
             ROW_NUMBER() OVER (ORDER BY ROUND(l_extendedprice, 2),
                                l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER () AS n
      FROM lineitem)
    SELECT CAST(((rn - 1) * 20) // n AS BIGINT) AS bucket,
           COUNT(*) AS n_rows, MIN(price) AS lo, MAX(price) AS hi
    FROM r GROUP BY 1
"""

# ONE SQL text for both engines (the pricing_summary_sql pattern):
# Spark substitutes the orders DataFrame, DuckDB the registered view.  Recursion depth = months between min and max order date
# (~80 here), under Spark's cteRecursionLevelLimit default of 100 —
# the spine is calendar-bounded, not data-bounded.
_MONTH_SPINE_SQL = """
    WITH RECURSIVE bounds AS (
      SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
      FROM {orders}
    ),
    months(m, hi) AS (
      -- hi is CARRIED through the recursion: a scalar subquery in the
      -- step's WHERE would re-aggregate the fact table on EVERY
      -- iteration (~80 full scans; measured 14 s vs 2 s at sf0.1)
      SELECT lo, hi FROM bounds
      UNION ALL
      SELECT CAST(m + INTERVAL '1' MONTH AS DATE), hi FROM months
      WHERE m < hi
    ),
    cnt AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             COUNT(*) AS n
      FROM {orders} GROUP BY 1
    )
    SELECT CAST(EXTRACT(YEAR FROM m) * 100 + EXTRACT(MONTH FROM m)
                AS BIGINT) AS ym,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_orders
    FROM months LEFT JOIN cnt USING (m)
"""


def q_orders_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free monthly order counts over a RECURSIVE CTE date spine
    (Spark 4 ``WITH RECURSIVE``): the spine generates every calendar
    month between the first and last order, and a LEFT JOIN surfaces
    zero-order months that a plain GROUP BY would silently omit — the
    canonical reporting gap-fill.  The IDENTICAL SQL text runs on both
    engines (the `pricing_summary_sql` portability pattern, now
    including recursion)."""
    return spark.sql(_MONTH_SPINE_SQL, orders=read_table(spark, sf_dir, "orders"))


ORACLES["orders_month_spine"] = _MONTH_SPINE_SQL.format(orders="orders")


def q_orders_pipe_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators): the scan→filter→
    join→aggregate→post-filter chain written as a linear pipeline —
    the readable modern form of nested subqueries, compiled by
    Catalyst to the IDENTICAL plan as the classic formulation (the
    oracle is that classic SQL; hash parity proves plan-equivalence
    of the two frontends)."""
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |> JOIN {customer} ON o_custkey = c_custkey
        |> AGGREGATE COUNT(*) AS n_orders,
                     ROUND(SUM(o_totalprice), 2) AS revenue
           GROUP BY c_nationkey
        |> WHERE n_orders > 50
        |> SELECT c_nationkey, n_orders, revenue
        """,
        orders=read_table(spark, sf_dir, "orders"),
        customer=read_table(spark, sf_dir, "customer"),
    )


ORACLES["orders_pipe_sql"] = """
    SELECT c_nationkey, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    GROUP BY c_nationkey
    HAVING COUNT(*) > 50
"""


def q_orders_pivot_unpivot_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT → UNPIVOT round trip (both Spark SQL clauses): yearly
    order counts pivoted into one column per order status, then
    unpivoted back to long form — hash-equal to the plain GROUP BY the
    oracle computes, which proves the two reshapes are exact inverses
    (modulo the NULL cells UNPIVOT drops; statuses absent in a year
    vanish on both engines).  The DataFrame twins are
    `feature_pivot`/`feature_unpivot`; this pins the SQL frontend."""
    return spark.sql(
        """
        SELECT year, status, n_orders FROM (
          SELECT * FROM (
            SELECT EXTRACT(YEAR FROM o_orderdate) AS year, o_orderstatus
            FROM {orders}
          )
          PIVOT (COUNT(*) AS cnt FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
        )
        UNPIVOT (n_orders FOR status IN (f AS `F`, o AS `O`, p AS `P`))
        """,
        orders=read_table(spark, sf_dir, "orders"),
    ).select(
        F.col("year").cast("long").alias("year"),
        "status",
        F.col("n_orders").cast("long").alias("n_orders"),
    )


ORACLES["orders_pivot_unpivot_sql"] = """
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS year,
           o_orderstatus AS status, COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
"""


QUERIES = {
    "lineitem_skew_profile": q_lineitem_skew_profile,
    "pricing_rollup": q_pricing_rollup,
    "customer_semi_anti": q_customer_semi_anti,
    "nation_set_ops": q_nation_set_ops,
    "orders_salted_join": q_orders_salted_join,
    "lineitem_stats": q_lineitem_stats,
    "pricing_cube": q_pricing_cube,
    "orders_above_cust_avg": q_orders_above_cust_avg,
    "orders_window_funcs": q_orders_window_funcs,
    "lineitem_moving_sum": q_lineitem_moving_sum,
    "orders_date_funcs": q_orders_date_funcs,
    "lineitem_percentiles": q_lineitem_percentiles,
    "pricing_grouping_sets": q_pricing_grouping_sets,
    "lineitem_yearly_growth": q_lineitem_yearly_growth,
    "lineitem_udaf_wavg": q_lineitem_udaf_wavg,
    "basket_part_pairs": q_basket_part_pairs,
    "nation_revenue_share": q_nation_revenue_share,
    "orders_cohort_retention": q_orders_cohort_retention,
    "lineitem_price_histogram": q_lineitem_price_histogram,
    "part_pagerank": q_part_pagerank,
    "orders_capped_balance": q_orders_capped_balance,
    "lineitem_corr_matrix": q_lineitem_corr_matrix,
    "supplier_pareto": q_supplier_pareto,
    "lineitem_dq_checks": q_lineitem_dq_checks,
    "orders_lateral_topk": q_orders_lateral_topk,
    "customer_rfm": q_customer_rfm,
    "orders_snapshot_diff": q_orders_snapshot_diff,
    "pricing_decimal_exact": q_pricing_decimal_exact,
    "part_skyline": q_part_skyline,
    "lineitem_equidepth_histogram": q_lineitem_equidepth_histogram,
    "orders_month_spine": q_orders_month_spine,
    "orders_pipe_sql": q_orders_pipe_sql,
    "orders_pivot_unpivot_sql": q_orders_pivot_unpivot_sql,
}
