"""TPC-H: the 22 TPC-H shapes (Q1 is ``pricing_summary`` in
``core``) adapted to the testdata schema — there is no ``partsupp``
table and no ``l_shipmode`` or commit/receipt dates, so each query notes
its substitutes.  The reference has no SQL surface (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import _t

ORACLES: dict[str, str] = {}


def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + rounded-revenue top-10.
    Filters sit directly on the scans (pushdown), the dims stay
    broadcast-able, and AQE picks the join strategy."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_date_us"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


ORACLES["tpch_q3_shipping"] = """
        SELECT l_orderkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               epoch_us(o_orderdate) AS o_date_us,
               o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """


def q_tpch_q5_regional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join through region→nation→(customer,
    supplier)→orders→lineitem.  region/nation are broadcast explicitly —
    their domains are bounded at ANY scale factor, so the hint is safe
    at 100 TB where the fact-side joins shuffle."""
    region = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, (li["l_suppkey"] == supp["s_suppkey"])
              & (cust["c_nationkey"] == supp["s_nationkey"]))
        .join(nation, supp["s_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


ORACLES["tpch_q5_regional"] = """
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """


def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: scan → conjunctive filter → global agg.  Every
    predicate is a native Column expr, so all four reach the parquet
    reader as PushedFilters and row groups outside the shipdate range
    never leave disk — the 100 TB case reads a fraction of the table."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


ORACLES["tpch_q6_forecast"] = """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


def q_tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.
    The returnflag/orderdate filters cut both fact tables at the scan;
    nation broadcasts; the customer join shuffles only the filtered
    survivors."""
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


ORACLES["tpch_q10_returns"] = """
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           ROUND(c_acctbal, 2) AS acctbal,
           n_name
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


def q_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer distribution via a LEFT
    OUTER join with a compound join condition (the priority predicate
    must ride the join, not a WHERE, to keep order-less customers).
    Two aggregations but only the first shuffles on a wide key; the
    second groups on the tiny count domain."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust["c_custkey"] == orders["o_custkey"])
            & (orders["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .select(F.col("c_count").cast("long").alias("c_count"), "custdist")
    )


ORACLES["tpch_q13_custdist"] = """
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                       AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY 1
"""


def q_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share per ship-month —
    conditional aggregation (sum of CASE) over a fact⋈dim join.  part
    is SF-scaled (200k × SF rows), so it carries NO broadcast hint:
    AQE broadcasts the 2-column projection while it measures small and
    switches to a shuffled join at scale (round-3 verdict #2 class)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(F.unix_timestamp(F.date_trunc("month", "l_shipdate")).alias("month_epoch"))
        .agg(
            F.round(F.sum(promo), 2).alias("promo_rev"),
            F.round(F.sum(disc_price), 2).alias("total_rev"),
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(disc_price), 4).alias("promo_share"),
        )
    )


ORACLES["tpch_q14_promo"] = """
    SELECT CAST(floor(epoch(date_trunc('month', l_shipdate::TIMESTAMP))) AS BIGINT)
             AS month_epoch,
           ROUND(SUM(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
             AS promo_rev,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_rev,
           ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
"""


def q_tpch_q18_bigorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — HAVING SUM(qty) > 250
    computed once on lineitem (map-side partials), then joined back to
    orders/customer.  The having-filter runs BEFORE the joins, so only
    qualifying orderkeys enter the join — a selective but still
    SF-scaled set, so no forced broadcast hint: AQE converts to a
    broadcast join when the filtered aggregate measures small."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("sum_qty").desc(), F.col("o_orderkey"))
        .limit(100)
    )


ORACLES["tpch_q18_bigorders"] = """
    WITH big AS (
      SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250
    )
    SELECT c_custkey, c_name, o_orderkey,
           ROUND(o_totalprice, 2) AS totalprice, sum_qty
    FROM orders
    JOIN big      ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY sum_qty DESC, o_orderkey
    LIMIT 100
"""


def q_tpch_q22_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: positive-balance customers above the global
    average balance with no orders, counted per nation.  The scalar
    subquery becomes a 1-row broadcast cross join (no driver collect);
    the NOT EXISTS becomes a LEFT ANTI join that ships only o_custkey."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .select(F.col("c_nationkey").cast("long").alias("nationkey"), "n_cust", "total_bal")
    )


ORACLES["tpch_q22_acctbal"] = """
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           COUNT(*) AS n_cust,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY 1
"""


def q_tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking.  The EXISTS subquery
    (a lineitem shipped after the order date — substitute for
    commitdate<receiptdate) becomes a LEFT SEMI join that ships only
    (l_orderkey, l_shipdate); the date filter prunes orders at the
    scan before the join."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > orders["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


ORACLES["tpch_q4_priority"] = """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
"""


def q_tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    year.  The nation dimension joins twice (supplier side + customer
    side) — both broadcast, with the two-nation filter applied to each
    broadcast copy BEFORE the pair predicate, so the fact shuffle only
    carries rows touching either nation."""
    pair = ("NATION_2", "NATION_7")
    n1 = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation"))
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n1), supp["s_nationkey"] == n1["s_nkey"])
        .join(F.broadcast(n2), cust["c_nationkey"] == n2["c_nkey"])
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


ORACLES["tpch_q7_volume"] = """
    SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2'))
    ) GROUP BY 1, 2, 3
"""


def q_tpch_q8_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a nation's market share of PROMO-type parts
    sold to ASIA customers, by year.  share = conditional-sum /
    total-sum in ONE aggregate pass (no self-join); region/nation
    broadcast."""
    region = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    n_cust = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n_cust), cust["c_nationkey"] == n_cust["c_nkey"])
        .join(region, n_cust["c_rkey"] == region["r_regionkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n_supp), supp["s_nationkey"] == n_supp["s_nkey"])
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


ORACLES["tpch_q8_share"] = """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           ROUND(SUM(CASE WHEN ns.n_name = 'NATION_7'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    JOIN region   ON nc.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    WHERE p_type = 'PROMO' AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
"""


def q_tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year over parts
    whose name contains 'widget'.  Without a partsupp table the cost
    term is p_retailprice·quantity·0.1 instead of
    ps_supplycost·quantity — same operator DAG (3 fact-dim joins +
    derived-column aggregate)."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = F.broadcast(
        _t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    # exact integer 10^-4 dollars: ext_cents·(100−disc_bp) − retail_cents·qty·10.
    # float SUM order noise straddled a round-2 boundary here cross-engine.
    amount_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    ) - F.round(F.col("p_retailprice") * 100).cast("long") * F.col("l_quantity").cast(
        "long"
    ) * 10
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(nation, supp["s_nationkey"] == nation["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.sum(amount_e4) / 10000.0).alias("sum_profit"))
    )


ORACLES["tpch_q9_profit"] = """
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
               - CAST(ROUND(p_retailprice * 100) AS BIGINT)
                 * CAST(l_quantity AS BIGINT) * 10) / 10000.0 AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
"""


def q_tpch_q11_important(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose ASIA-supplied inventory value
    exceeds 2× the average part's value.  (TPC-H uses a fixed
    fraction-of-total cutoff, which silently empties as the part count
    grows — the relative-to-average form is scale-invariant and equals
    the 0.1%-of-total cutoff exactly at sf0.01.)  partsupp value is
    substituted by Σ retailprice·quantity over ASIA-supplier
    lineitems.  All money math is integer cents so the
    HAVING-vs-global-scalar comparison is exact cross-engine; the
    global (total, count) is a 1-row broadcast (no driver collect)."""
    region = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    nation = _t(spark, sf_dir, "nation")
    asia_supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select("s_suppkey")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    value_cents = F.sum(
        F.round(F.col("p_retailprice") * 100).cast("long") * F.col("l_quantity").cast("long")
    )
    per_part = (
        li.join(asia_supp, li["l_suppkey"] == asia_supp["s_suppkey"], "left_semi")
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(value_cents.alias("value_cents"))
    )
    total = per_part.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count("*").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * F.col("n_parts") > 2 * F.col("total_cents"))
        .select(
            "p_partkey",
            F.round(F.col("value_cents") / 100.0, 2).alias("value"),
        )
        .orderBy(F.col("value").desc(), F.col("p_partkey"))
    )


ORACLES["tpch_q11_important"] = """
    WITH per_part AS (
      SELECT l_partkey AS p_partkey,
             SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)
                 * CAST(l_quantity AS BIGINT)) AS value_cents
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE l_suppkey IN (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA')
      GROUP BY 1)
    SELECT p_partkey, ROUND(value_cents / 100.0, 2) AS value
    FROM per_part
    WHERE value_cents * (SELECT COUNT(*) FROM per_part)
          > 2 * (SELECT SUM(value_cents) FROM per_part)
    ORDER BY value DESC, p_partkey
"""


def q_tpch_q12_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high- vs low-priority order counts by line
    status (substitute for ship mode) for 1997 shipments.  The
    CASE-sum pair runs in one aggregate; only (o_orderkey,
    o_orderpriority) crosses the join."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


ORACLES["tpch_q12_priority"] = """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
"""


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum revenue in 1996Q1.
    The revenue view is one aggregate; the MAX scalar is a 1-row
    broadcast cross join compared in exact integer 10^-4 dollars
    (cents × (100−discount_bp)), so max-equality can't be broken by
    float noise."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev_unit = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    revenue = (
        li.groupBy("l_suppkey").agg(F.sum(rev_unit).alias("rev_e4"))
    )
    max_rev = revenue.agg(F.max("rev_e4").alias("max_e4"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("rev_e4") == F.col("max_e4"))
        .join(supp, F.col("l_suppkey") == supp["s_suppkey"])
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            F.round(F.col("rev_e4") / 10000.0, 2).alias("total_revenue"),
        )
    )


ORACLES["tpch_q15_top_supplier"] = """
    WITH revenue AS (
      SELECT l_suppkey,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
           ROUND(rev_e4 / 10000.0, 2) AS total_revenue
    FROM revenue JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_e4 = (SELECT MAX(rev_e4) FROM revenue)
"""


def q_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type,
    size) over selected part attrs, excluding flagged suppliers
    (negative balance, substitute for the complaints NOT IN) — the
    NOT IN is a LEFT ANTI join.  The flagged-supplier side is a
    filtered slice of the SF-scaled supplier table, so it carries no
    forced broadcast hint (AQE picks broadcast while it fits)."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25))
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(bad_supp, li["l_suppkey"] == bad_supp["s_suppkey"], "left_anti")
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


ORACLES["tpch_q16_supplier_cnt"] = """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue loss from small-quantity Brand#3
    orders.  The correlated per-part AVG subquery decorrelates into a
    grouped aggregate joined back to the fact.  The per-part aggregate
    is SF-scaled (one row per Brand#3 part), so it carries no forced
    broadcast hint — AQE broadcasts while small, and at 100 TB the two
    sides co-partition on l_partkey for a shuffle-reusing sort-merge
    join.  The final scalar is exact integer cents with
    floor-division by 7."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    li_b3 = li.join(part, li["l_partkey"] == part["p_partkey"], "left_semi")
    avg_qty = li_b3.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li_b3.join(avg_qty, li_b3["l_partkey"] == F.col("ap_key"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.floor(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 7.0
            )
            .cast("long")
            .alias("avg_yearly_cents")
        )
    )


ORACLES["tpch_q17_small_qty"] = """
    SELECT CAST(FLOOR(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 7.0)
                AS BIGINT) AS avg_yearly_cents
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
"""


def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under three OR-ed brand/size/quantity
    conjunctions.  The disjunction stays one native predicate on the
    joined relation — Catalyst extracts the common l_partkey=p_partkey
    equi-condition so the join is hash, not nested-loop."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(clause).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


ORACLES["tpch_q19_disjunctive"] = """
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q20_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than half of a
    red part's 1996 volume.  partsupp availqty is substituted by the
    per-(supplier, part) shipped-quantity sum vs the per-part total —
    a grouped aggregate on (part, supplier) then a window sum on part
    (one narrower re-exchange of the aggregated rows, not the facts),
    compared in exact integer units."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    sp = (
        li.join(part, li["l_partkey"] == part["p_partkey"], "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("supp_qty"))
    )
    total = F.sum("supp_qty").over(Window.partitionBy("l_partkey"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sp.withColumn("part_qty", total)
        .filter(F.col("supp_qty") * 2 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
        .join(supp, F.col("l_suppkey") == supp["s_suppkey"])
        .select(F.col("s_suppkey").cast("long").alias("s_suppkey"), "s_name")
        .orderBy("s_suppkey")
    )


ORACLES["tpch_q20_excess"] = """
    WITH sp AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS supp_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      GROUP BY 1, 2),
    marked AS (
      SELECT l_suppkey, supp_qty,
             SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
      FROM sp)
    SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name
    FROM marked JOIN supplier ON l_suppkey = s_suppkey
    WHERE supp_qty * 2 > part_qty
    ORDER BY s_suppkey
"""


def q_tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers whose late line was the ONLY late
    line in a finished multi-supplier order.  lateness = shipped after
    order date (substitute for receipt>commit).  EXISTS → LEFT SEMI on
    (same order, other supplier); NOT EXISTS → LEFT ANTI on (same
    order, other supplier, late) — both ship two narrow columns."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    lif = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate"
    )
    late = lif.filter(F.col("l_shipdate") > F.col("o_orderdate"))
    others = li.select(
        F.col("l_orderkey").alias("o2_key"), F.col("l_suppkey").alias("o2_supp")
    )
    late2 = late.select(
        F.col("l_orderkey").alias("l2_key"), F.col("l_suppkey").alias("l2_supp")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    waiting = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o2_key"))
            & (F.col("l_suppkey") != F.col("o2_supp")),
            "left_semi",
        )
        .join(
            late2,
            (F.col("l_orderkey") == F.col("l2_key"))
            & (F.col("l_suppkey") != F.col("l2_supp")),
            "left_anti",
        )
    )
    return (
        waiting.join(supp, waiting["l_suppkey"] == supp["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


ORACLES["tpch_q21_waiting"] = """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders   ON l1.l_orderkey = o_orderkey
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND o3.o_orderstatus = 'F'
                        AND l3.l_shipdate > o3.o_orderdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""


def q_tpch_q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each size-10 part, the EUROPE supplier(s)
    achieving the minimum unit price.  The correlated MIN subquery is
    a window MIN over the part key — one shuffle, no join-back.  Unit
    price is exact integer 10^-4 dollars via cents·100 div quantity,
    so min-equality is float-safe."""
    region = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE"))
    nation = _t(spark, sf_dir, "nation")
    eu_supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 10).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    unit_e4 = F.expr(
        "(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 100) div CAST(l_quantity AS BIGINT)"
    )
    offers = (
        li.join(part, li["l_partkey"] == part["p_partkey"], "left_semi")
        .join(eu_supp, li["l_suppkey"] == eu_supp["s_suppkey"])
        .withColumn("unit_e4", unit_e4)
    )
    min_unit = F.min("unit_e4").over(Window.partitionBy("l_partkey"))
    return (
        offers.withColumn("min_e4", min_unit)
        .filter(F.col("unit_e4") == F.col("min_e4"))
        .select(
            F.round("s_acctbal", 2).alias("acctbal"),
            "s_name",
            "n_name",
            F.col("l_partkey").cast("long").alias("p_partkey"),
            F.col("unit_e4").alias("unit_e4"),
        )
        # same (part, supplier) can hit the min with several identical
        # lineitems — collapse to one offer row
        .distinct()
        .orderBy(F.col("acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


ORACLES["tpch_q2_min_cost"] = """
    WITH offers AS (
      SELECT DISTINCT ROUND(s_acctbal, 2) AS acctbal, s_name, n_name,
             CAST(l_partkey AS BIGINT) AS p_partkey,
             (CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 100)
               // CAST(l_quantity AS BIGINT) AS unit_e4,
             MIN((CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 100)
                 // CAST(l_quantity AS BIGINT))
               OVER (PARTITION BY l_partkey) AS min_e4
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 10))
    SELECT acctbal, s_name, n_name, p_partkey, unit_e4
    FROM offers WHERE unit_e4 = min_e4
    ORDER BY acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
"""


QUERIES = {
    "tpch_q3_shipping": q_tpch_q3_shipping,
    "tpch_q5_regional": q_tpch_q5_regional,
    "tpch_q6_forecast": q_tpch_q6_forecast,
    "tpch_q10_returns": q_tpch_q10_returns,
    "tpch_q13_custdist": q_tpch_q13_custdist,
    "tpch_q14_promo": q_tpch_q14_promo,
    "tpch_q18_bigorders": q_tpch_q18_bigorders,
    "tpch_q22_acctbal": q_tpch_q22_acctbal,
    "tpch_q4_priority": q_tpch_q4_priority,
    "tpch_q7_volume": q_tpch_q7_volume,
    "tpch_q8_share": q_tpch_q8_share,
    "tpch_q9_profit": q_tpch_q9_profit,
    "tpch_q11_important": q_tpch_q11_important,
    "tpch_q12_priority": q_tpch_q12_priority,
    "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
    "tpch_q16_supplier_cnt": q_tpch_q16_supplier_cnt,
    "tpch_q17_small_qty": q_tpch_q17_small_qty,
    "tpch_q19_disjunctive": q_tpch_q19_disjunctive,
    "tpch_q20_excess": q_tpch_q20_excess,
    "tpch_q21_waiting": q_tpch_q21_waiting,
    "tpch_q2_min_cost": q_tpch_q2_min_cost,
}
