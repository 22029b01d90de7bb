"""Round-4 analytics/curation additions: temporal modeling (SCD2
intervals, EWMA, regression trends), statistical profiling (correlation
matrix, Pareto concentration), data-quality constraint checking
(Deequ-style), exact-distinct at scale (bitmap aggregation), and two
LLM-corpus scores (bigram-LM perplexity, Heaps-law vocabulary growth).

Registered into the main catalog by ``queries.py`` (import at module
end there); every entry ships a DuckDB oracle following the
cross-engine conventions documented at ``queries.py:1-27``.

These extend the reference's analytic surface (SURVEY.md §2 has no
statistical/temporal-modeling operators; the closest is the W1/W2
rank window at FeatureExtractor.scala:50-75) with the shapes a
training-data pipeline runs beside it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.ordering import (
    range_partitioned_row_number,
    range_partitioned_running_sum,
)
from .operators.text import tokens
from .sources.readers import read_events, read_table, table_row_count

# canonical copies live at queries.py:135-136 (kept in sync by
# tests/test_oracle_parity — any drift hash-mismatches immediately)
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"CASE WHEN {_NORM} = '' THEN [] ELSE string_split_regex({_NORM}, '\\s+') END"

ANALYTICS_ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# temporal modeling
# ---------------------------------------------------------------------------


def q_events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 interval build (gaps-and-islands): per user, collapse
    the event stream into maximal runs of a constant ``event_type`` and
    emit versioned validity intervals ``[valid_from, valid_to)`` — the
    standard way a warehouse derives a slowly-changing dimension from a
    change log.

    Three windows, ALL partitioned by ``user_id`` (one shuffle total,
    no global ordering): lag detects changes, a running sum numbers the
    islands, lead closes each interval with the next one's start.
    Scales: state per partition is one user's history."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("event_type").over(w)
    islands = (
        ev.withColumn(
            "chg", F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
        )
        .withColumn("version", F.sum("chg").over(w))
        .groupBy("user_id", "version")
        .agg(
            F.min("event_type").alias("event_type"),  # constant per island
            F.min("ts_us").alias("valid_from_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    wi = Window.partitionBy("user_id").orderBy("version")
    return islands.select(
        "user_id",
        F.col("version").cast("long").alias("version"),
        "event_type",
        "valid_from_us",
        F.lead("valid_from_us").over(wi).alias("valid_to_us"),
        F.col("n_events").cast("long").alias("n_events"),
    )


ANALYTICS_ORACLES["events_scd2_intervals"] = """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev
      FROM events),
    i AS (
      SELECT user_id, event_type, ts_us,
             SUM(CASE WHEN prev IS NULL OR prev <> event_type
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS UNBOUNDED PRECEDING) AS version
      FROM e),
    g AS (
      SELECT user_id, version, MIN(event_type) AS event_type,
             MIN(ts_us) AS valid_from_us, COUNT(*) AS n_events
      FROM i GROUP BY 1, 2)
    SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
           valid_from_us,
           LEAD(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY version) AS valid_to_us,
           CAST(n_events AS BIGINT) AS n_events
    FROM g
"""


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average (α=0.2) over a
    bounded 32-event frame — the streaming-metrics smoother, expressed
    as one ordered window + an Arrow-free higher-order function: the
    frame's values are zipped with descending powers of (1−α) and
    folded JVM-side (no Python, no self-join).

    The bounded frame is the scale decision: an unbounded EWMA is a
    sequential recurrence (one running state per user — fine in
    streaming, hostile in batch); truncating at 32 terms bounds the
    per-row work while (1−α)³² ≈ 8e-4 bounds the truncation error.
    The oracle computes the identical weighted sum via a rows-window
    self-join — same math, different plan.

    NULL values are filtered out up front (mirrored in the oracle):
    ``collect_list`` silently drops NULLs, which would shift the
    positional weights relative to the oracle's row-number-distance
    weighting — filtering first makes "position among frame rows" and
    "position among non-null values" the same thing on both engines."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "value", F.unix_micros("ts").alias("ts_us"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-31, Window.currentRow)
    )
    xs = F.collect_list("value").over(w)
    return ev.withColumn("xs", xs).select(
        "user_id",
        "event_id",
        F.round(
            F.expr(
                """
                aggregate(zip_with(xs, sequence(size(xs) - 1, 0),
                                   (x, k) -> x * pow(0.8D, k)),
                          0D, (acc, v) -> acc + v)
                / ((1.0D - pow(0.8D, size(xs))) / 0.2D)
                """
            ),
            6,
        ).alias("ewma32"),
    )


ANALYTICS_ORACLES["events_ewma"] = """
    WITH e AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events WHERE value IS NOT NULL)
    SELECT a.user_id, a.event_id,
           ROUND(SUM(b.value * POW(0.8, a.rn - b.rn))
                 / ((1 - POW(0.8, COUNT(*))) / 0.2), 6) AS ewma32
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 31 AND a.rn
    GROUP BY a.user_id, a.event_id
"""


def q_events_regr_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of event values over time via the SQL:2016
    ``regr_*`` aggregates — slope/intercept/R² in ONE distributed pass
    (map-side partial moments, no collect, no MLlib).  Time is rebased
    to hours since 2024-01-01 before regressing: raw epoch abscissae
    put ~1.7e9 s against a ~2.5e6 s spread and the variance computation
    loses ~6 digits to cancellation — rebasing is the difference
    between a stable and an unstable plan at ANY scale."""
    ev = _t(spark, sf_dir, "events")
    th = (F.unix_micros("ts") - F.lit(1704067200000000)) / F.lit(3.6e9)
    v = F.col("value")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope(v, th), 6).alias("slope"),
        F.round(F.regr_intercept(v, th), 6).alias("intercept"),
        F.round(F.regr_r2(v, th), 6).alias("r2"),
    )


ANALYTICS_ORACLES["events_regr_trend"] = """
    WITH e AS (
      SELECT event_type, value,
             (epoch_us(ts) - 1704067200000000) / 3.6e9 AS th
      FROM events)
    SELECT event_type, COUNT(*) AS n,
           ROUND(regr_slope(value, th), 6) AS slope,
           ROUND(regr_intercept(value, th), 6) AS intercept,
           ROUND(regr_r2(value, th), 6) AS r2
    FROM e GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# statistical profiling
# ---------------------------------------------------------------------------


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


ANALYTICS_ORACLES["lineitem_corr_matrix"] = """
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


ANALYTICS_ORACLES["supplier_pareto"] = """
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


def q_events_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-user counts per event type via two-level bitmap
    aggregation (``bitmap_construct_agg`` per 32k-id bucket, counts
    summed across buckets) — the fixed-memory exact alternative to both
    ``count_distinct`` (shuffles every distinct id) and HyperLogLog
    (approximate).  Partial bitmaps OR map-side, so the shuffle carries
    ≤ one 4 KB bitmap per (type, bucket) regardless of row count — at
    100 TB this is the plan that replaces a multi-TB distinct shuffle
    with megabytes.  Oracle: the plain COUNT(DISTINCT) it must equal."""
    ev = _t(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("n_in_bucket"))
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("n_in_bucket").alias("n_users")
    )


ANALYTICS_ORACLES["events_bitmap_distinct"] = """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# data-quality constraint suite (Deequ-style)
# ---------------------------------------------------------------------------


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


ANALYTICS_ORACLES["lineitem_dq_checks"] = """
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


# ---------------------------------------------------------------------------
# LLM-corpus scores
# ---------------------------------------------------------------------------


def q_doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style corpus-LM quality score: a bigram MLE model is
    trained on the whole corpus and every document is scored by its
    average negative log-likelihood and perplexity under it — the
    classic filter that drops gibberish (high ppl) and boilerplate
    (abnormally low ppl).

    Both model tables are plain aggregations; scoring is two equi-joins
    on (bigram, unigram) keys — distributed end-to-end, no vocabulary
    collected to the driver.  At corpus scale the hot-key hazard is the
    handful of stopword bigrams; the same doc-frequency cap used by
    ``ngram_jaccard_pairs`` (dedup.py:97) applies if the model join
    skews.  Docs with <2 tokens have no bigrams and drop out (same
    filter on both engines).

    Above the footer-count collapse dial (round 12 — the dedup-report /
    DSIR insight a third time) the WHOLE pipeline runs at the
    distinct-text level: both model counts are recovered exactly by
    weighting each distinct text's bigrams with its clone multiplicity
    (``c12 = Σ m_t·cnt_t(bg)``), every distinct text is scored once,
    and the narrow (fp, n_bigrams, avg_nll, ppl) relation joins back —
    path-identical (the per-doc NLL multiset IS the rep's), work
    Θ(distinct·bigrams) instead of Θ(rows·bigrams)."""
    from .sources.readers import collapse_dial

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _bigram_ppl(
        docs,
        collapse=collapse_dial(spark, sf_dir),
        spread_rows=table_row_count(sf_dir, "documents"),
    )


def _bigram_ppl(docs: DataFrame, collapse: bool = False,
                spread_rows: int | None = None) -> DataFrame:
    """Corpus-bigram-LM scoring core for q_doc_bigram_perplexity (and,
    through it, corpus_ccnet_buckets) — see that docstring for the
    algorithm and the ``collapse`` contract.

    ``spread_rows`` (caller's footer count, r14): below the spread
    gate the documents scan is ONE parquet split, and every consumer
    of the bigram stream (two model aggregations' broadcast builds +
    the scoring legs) re-ran tokenize+explode as a ~0.5-1 s
    SINGLE-TASK job (profiled 4-6 such jobs inside
    corpus_ccnet_buckets).  A round-robin spread of the raw rows
    before tokenization runs each pass cores-wide; each document's
    rows stay whole, so every per-doc float fold keeps its exact
    order and the result is bit-identical (the spread_small
    contract)."""
    from .operators.similarity import spread_small

    def bigrams(df: DataFrame, key: str) -> DataFrame:
        base = spread_small(df, spread_rows).withColumn(
            "t", tokens(F.lower(F.col("text")))
        ).filter(
            F.size("t") >= 2
        )
        return base.select(
            key,
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, concat(t[i], ' ', t[i+1]) AS bg))"
                )
            ).alias("p"),
        ).select(key, "p.w1", "p.bg")

    if collapse:
        t = F.col("text")
        fp = F.when(t.isNull(), F.lit("null")).otherwise(F.sha2(t, 256))
        fpmap = docs.select("doc_id", fp.alias("__fp"))
        mult = fpmap.groupBy("__fp").agg(F.count(F.lit(1)).alias("m"))
        rep_bg = (
            bigrams(
                docs.select(fp.alias("__fp"), "text")
                .dropDuplicates(["__fp"]),
                "__fp",
            )
            # feeds both model aggregations AND the scoring join — the
            # per_distinct_text checkpoint discipline; narrow, bounded
            # by distinct texts × bigrams
            .localCheckpoint(eager=False)
        )
        wm = rep_bg.join(mult, "__fp")
        m12 = wm.groupBy("bg").agg(F.sum("m").alias("c12"))
        m1 = wm.groupBy("w1").agg(F.sum("m").alias("c1"))
        nll = -F.log(F.col("c12").cast("double") / F.col("c1"))
        rep_scores = (
            rep_bg.join(m12, "bg")
            .join(m1, "w1")
            .groupBy("__fp")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                F.round(F.avg(nll), 6).alias("avg_nll"),
                F.round(F.exp(F.avg(nll)), 4).alias("ppl"),
            )
        )
        return fpmap.join(rep_scores, "__fp").select(
            "doc_id", "n_bigrams", "avg_nll", "ppl"
        )
    bg = bigrams(docs, "doc_id")
    m12 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    m1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    nll = -F.log(F.col("c12").cast("double") / F.col("c1"))
    return (
        bg.join(m12, "bg")
        .join(m1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
            F.round(F.exp(F.avg(nll)), 4).alias("ppl"),
        )
    )


ANALYTICS_ORACLES["doc_bigram_perplexity"] = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
      WHERE len({_TOKS}) >= 2),
    bg AS (
      SELECT doc_id, t[g] AS w1, t[g] || ' ' || t[g + 1] AS bg
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 1)) AS g
            FROM toks)),
    m12 AS (SELECT bg, COUNT(*) AS c12 FROM bg GROUP BY 1),
    m1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    sc AS (
      SELECT doc_id, -ln(c12::DOUBLE / c1) AS nll
      FROM bg JOIN m12 USING (bg) JOIN m1 USING (w1))
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(nll), 6) AS avg_nll,
           ROUND(EXP(AVG(nll)), 4) AS ppl
    FROM sc GROUP BY doc_id
"""


def q_corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: for each document (in doc_id
    ingest order) the number of never-seen-before tokens it introduces
    and the cumulative vocabulary size — the dataset-card curve that
    tells you whether more data still buys new vocabulary.

    First occurrences come from a min-aggregation per token (one
    shuffle on the token key — no window over the token stream); the
    cumulative curve is the range-partitioned running sum over ~|docs|
    rows.  Documents introducing zero new tokens are absent on both
    engines (inner aggregation semantics)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    first = tok.groupBy("tok").agg(F.min("doc_id").alias("doc_id"))
    per_doc = first.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    out = range_partitioned_running_sum(
        per_doc, [F.col("doc_id")], "n_new", out_col="vocab_size"
    )
    return out.select(
        "doc_id",
        F.col("n_new").cast("long").alias("n_new"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
    )


ANALYTICS_ORACLES["corpus_vocab_growth"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    f AS (SELECT tok, MIN(doc_id) AS doc_id FROM tok GROUP BY 1),
    n AS (SELECT doc_id, COUNT(*) AS n_new FROM f GROUP BY 1)
    SELECT doc_id, n_new,
           CAST(SUM(n_new) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS vocab_size
    FROM n
"""


# ---------------------------------------------------------------------------
# SQL-frontend / window-frame / streaming-provider breadth
# ---------------------------------------------------------------------------


def q_orders_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the SQL frontend: each
    customer's top-3 orders by price — the per-row-subquery shape SQL
    users write, planned by Catalyst as a single joined/windowed plan
    (NOT one subquery execution per customer; compare the DataFrame
    formulation in ``topk_per_group``, queries.py).  Customers with no
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


ANALYTICS_ORACLES["orders_lateral_topk"] = """
    SELECT c.c_custkey, t.o_orderkey, ROUND(t.o_totalprice, 2) AS totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice
             FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             LIMIT 3) t
"""


def q_events_trailing_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per event, the count and sum of
    the SAME user's events in the trailing 10 minutes — the rolling
    rate-limiter / velocity-feature shape.  A RANGE frame over event
    time differs from a rows frame (``lineitem_moving_sum``): the frame
    extent follows the timestamps, not a fixed row count, and ties on
    the ordering value all enter the frame together.  One shuffle on
    user_id; no self-join (compare the as-of join family)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_10m"),
        F.round(F.sum("value").over(w), 4).alias("sum_10m"),
    )


ANALYTICS_ORACLES["events_trailing_range_sum"] = """
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_10m,
           ROUND(SUM(value) OVER w, 4) AS sum_10m
    FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
"""


def q_events_stream_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming tumbling aggregation drained under the
    RocksDBStateStoreProvider — the state backend a 100 TB production
    query runs on (disk-spilling state + changelog checkpointing,
    instead of the default heap-resident HDFS-backed store whose
    footprint grows with key cardinality).  Same relation as
    ``events_stream_tumbling``; the oracle pins provider-independence
    of the result."""
    from .streaming.events_stream import run_stream_to_memory, stream_tumbling_agg

    return run_stream_to_memory(
        stream_tumbling_agg(spark, sf_dir), state_store="rocksdb"
    )


# same relation as the batch tumbling aggregation — the provider must
# not change the result (text mirrors ORACLES["events_stream_tumbling"])
ANALYTICS_ORACLES["events_stream_rocksdb"] = """
    SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP))) AS BIGINT)
             AS window_start_epoch,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
"""


def q_events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the VARIANT type (Spark 4): JSON
    parsed ONCE into the binary variant encoding, then typed path
    extraction with ``variant_get`` — the schema-on-read path that
    replaces per-access JSON re-parsing (``events_json_props``'s
    get_json_object reparses the string per expression; variant
    amortizes it, the difference between 1× and k× parse cost for k
    extractions at scale).  ``try_variant_get`` on a missing path
    yields NULL instead of failing — the malformed-tolerant posture of
    the TSV sources, at the field level."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        (F.variant_get(v, "$.k", "bigint") % 7 == 0).alias("k_div7"),
        F.try_variant_get(v, "$.missing", "bigint").alias("k_missing"),
    )


ANALYTICS_ORACLES["events_variant_props"] = """
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k,
           CAST(props->>'$.k' AS BIGINT) % 7 = 0 AS k_div7,
           CAST(props->>'$.missing' AS BIGINT) AS k_missing
    FROM events
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


ANALYTICS_ORACLES["customer_rfm"] = """
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
    from .operators.cdc import snapshot_diff

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


ANALYTICS_ORACLES["orders_snapshot_diff"] = """
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


def q_ml_als_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative-filtering recommendations via seeded implicit ALS
    — the modern MLlib form of the reference's whole purpose
    (recommend items to users; JobRunner.scala orchestrates exactly
    this per-site, with RF over hand-built rank features standing in
    for factorization).  Implicit ratings are customer×part purchase
    counts (lineitem⋈orders); top-3 recs for the 50 smallest user ids
    via ``recommendForUserSubset`` — the blocked-BLAS scoring path,
    NOT a full |users|×|items| cross product.

    Graduated to a hash-checked relation (round-5 verdict #1): the
    model-chosen items/scores collapse into per-user invariants the
    oracle can pin — the user-id set itself is EXACT (the 50 smallest
    purchasing custkeys, recomputed by the oracle from
    orders⋈lineitem), each user gets exactly k=3 recs (every subset
    user holds a trained factor), rec scores arrive sorted
    non-increasing (recommendForUserSubset contract), and every
    recommended item is a real item from the ratings matrix.  The raw
    (item, score) recs stay observable on the fitted model."""
    from pyspark.ml.recommendation import ALS

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ratings = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.count(F.lit(1)).cast("float").alias("rating"))
        .coalesce(8)
    )
    als = ALS(
        rank=8,
        maxIter=3,  # each iteration is 2 block shuffles; 3 converges
        # far enough for a deterministic demo at bench scale
        # 4 blocks (round-10, was 8): ALS's per-iteration cost here is
        # SCHEDULING many tiny block-pair tasks, not math — the
        # catalog's noisiest row across r6-r9 (3.34-5.18 s) was traced
        # to exactly that (round-9 verdict #2); 4x4 blocks quarter the
        # task count per sweep and measured both faster and tighter
        # (3-run spread 1.07x vs 2.8x in-session).  Production sizes
        # blocks to |ratings| / executor memory, same dial as shuffle
        # partitions — the constant here is the bench-scale setting.
        numUserBlocks=4,
        numItemBlocks=4,
        seed=42,
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    users = ratings.select("user").distinct().orderBy("user").limit(50)
    recs = model.recommendForUserSubset(users, 3)
    items = ratings.select("item").distinct()
    flat = recs.select(
        "user", F.posexplode("recommendations").alias("pos", "r")
    ).select(
        "user",
        "pos",
        F.col("r.item").alias("item"),
        F.col("r.rating").cast("double").alias("score"),
    )
    w = Window.partitionBy("user").orderBy("pos")
    flat = flat.withColumn("prev_score", F.lag("score").over(w)).join(
        items.withColumn("item_known", F.lit(True)), "item", "left"
    )
    return flat.groupBy(F.col("user").cast("long").alias("user_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_recs"),
        F.bool_and(
            F.col("prev_score").isNull()
            | (F.col("score") <= F.col("prev_score"))
        ).alias("scores_monotone"),
        F.bool_and(F.coalesce("item_known", F.lit(False))).alias(
            "items_valid"
        ),
        F.bool_and(
            F.col("score").isNotNull() & ~F.isnan("score")
        ).alias("scores_finite"),
    )


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


ANALYTICS_ORACLES["ml_als_recs"] = """
    WITH u AS (SELECT DISTINCT o_custkey AS uid
               FROM orders JOIN lineitem ON l_orderkey = o_orderkey
               ORDER BY uid LIMIT 50)
    SELECT CAST(uid AS BIGINT) AS user_id, CAST(3 AS BIGINT) AS n_recs,
           TRUE AS scores_monotone, TRUE AS items_valid,
           TRUE AS scores_finite
    FROM u
"""

ANALYTICS_ORACLES["pricing_decimal_exact"] = """
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
    from .operators.ordering import range_partitioned_running_max

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


ANALYTICS_ORACLES["part_skyline"] = """
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


ANALYTICS_ORACLES["lineitem_equidepth_histogram"] = """
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


def q_events_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution: each user's first and last event
    type plus the span between them, via ``min_by``/``max_by`` over a
    composite (ts, event_id) ordering struct — ONE aggregation pass,
    no window, no self-join (the arg-min/arg-max shape: Spark orders
    structs lexicographically, so the tie-break is exact).  The oracle
    proves the same relation from two ROW_NUMBER windows."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    key = F.struct("ts_us", "event_id")
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("first_type"),
        F.max_by("event_type", key).alias("last_type"),
        (F.max("ts_us") - F.min("ts_us")).alias("span_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


ANALYTICS_ORACLES["events_first_last_touch"] = """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rf,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts) DESC, event_id DESC) AS rl
      FROM events)
    SELECT user_id,
           MIN(CASE WHEN rf = 1 THEN event_type END) AS first_type,
           MIN(CASE WHEN rl = 1 THEN event_type END) AS last_type,
           MAX(ts_us) - MIN(ts_us) AS span_us,
           COUNT(*) AS n_events
    FROM e GROUP BY user_id
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


ANALYTICS_ORACLES["orders_month_spine"] = _MONTH_SPINE_SQL.format(orders="orders")


def _lsh_recall_report_frame(
    docs: DataFrame, collapse_truth: bool = False,
) -> DataFrame:
    """Shared plan of the LSH approximation-quality audit: exact-truth
    pair set, band-collision candidate set, verified intersection, one
    row of counts + recall + candidate precision.  Callers choose the
    audit corpus: the exact report passes the full documents table
    (``collapse_truth=True`` above the footer dial — the truth leg is
    uncapped exact Jaccard, precisely where the round-12 distinct-text
    collapse pays most: the direct self-join multiplies by
    duplication² per shingle bucket); the sampled report (round-11
    verdict #4) passes the deterministic ``doc_id % s`` sub-corpus,
    already bounded ≤~20k docs, and keeps the direct plan."""
    from .operators.dedup import minhash_bands, ngram_jaccard_pairs

    # the recall denominator must be the EXACT pair set — explicitly
    # opt out of the default document-frequency skew cap here (the
    # audit's whole point is to measure the approximation against
    # unapproximated truth; |docs| is bounded in an audit run)
    truth = ngram_jaccard_pairs(
        docs, n=3, threshold=0.02, max_doc_freq=None,
        collapse_distinct=collapse_truth,
    ).select("a_id", "b_id")
    # narrow band join + distinct (the minhash_lsh_pairs shape — see
    # the claiming boundary note there): the candidate COUNT is the
    # audit statistic, and no per-collision verify precedes the dedup
    stacked = minhash_bands(docs, k=16, bands=8)
    b2 = stacked.select(
        F.col("doc_id").alias("b_id"),
        F.col("band").alias("band2"),
        F.col("band_hash").alias("band_hash2"),
    )
    cand = (
        stacked.join(
            b2,
            (F.col("band") == F.col("band2"))
            & (F.col("band_hash") == F.col("band_hash2"))
            & (F.col("doc_id") < F.col("b_id")),
        )
        .select(F.col("doc_id").alias("a_id"), "b_id")
        .distinct()
    )
    verified = cand.join(truth, ["a_id", "b_id"], "left_semi")
    s_truth = truth.agg(F.count(F.lit(1)).alias("n_true"))
    s_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    s_ver = verified.agg(F.count(F.lit(1)).alias("n_verified"))
    return (
        s_truth.crossJoin(F.broadcast(s_cand))
        .crossJoin(F.broadcast(s_ver))
        .select(
            "n_true",
            "n_candidates",
            "n_verified",
            F.round(F.col("n_verified") / F.col("n_true"), 6).alias("recall"),
            F.round(F.col("n_verified") / F.col("n_candidates"), 6).alias(
                "cand_precision"
            ),
        )
    )


def q_dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality audit of the MinHash LSH pipeline against
    exact ground truth — the report a dedup run ships with its dataset
    card: true near-dup pairs (exact n-gram Jaccard ≥ t), LSH candidate
    pairs (band collisions), verified survivors, recall
    (verified/true — what the banding missed) and candidate precision
    (verified/candidates — how much verification work the bands
    wasted).  Everything folds to ONE row of counts; at scale this runs
    on a SAMPLE while the production path runs banding only — the
    report is how you justify k/bands before trusting them (that
    sampled scale form exists as ``dedup_lsh_recall_sampled``)."""
    from .sources.readers import collapse_dial

    return _lsh_recall_report_frame(
        _t(spark, sf_dir, "documents"),
        collapse_truth=collapse_dial(spark, sf_dir),
    )


def q_dedup_lsh_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH recall report on a DETERMINISTIC BOUNDED sub-corpus —
    the scale form of dedup_lsh_recall_report (round-11 verdict #4,
    same pattern as the sampled ANN recall grids): the exact report's
    truth leg is the unapproximated n-gram Jaccard pair scan, which is
    pair-output-bound on a duplication-heavy corpus (the largest sf1
    fence row, 46.8 s, e≈1.09 through sf10) — exactly the cost a
    100 TB deployment must not pay per audit.  The sub-corpus is
    ``doc_id % s == 0`` with s = ceil(n / AUDIT_SAMPLE_TARGET) from
    parquet FOOTER metadata: at every driver/bench SF (n ≤ 5,000)
    s = 1, so this relation IS the exact audit and the driver hash
    covers the full mechanism; beyond sf0.4 the audit corpus — truth
    leg, banding and verification alike — is capped at ~20k documents,
    so the row's cost stops growing with the corpus.  Recall/precision
    are estimates over a pair population either way; the bounded
    deterministic sample estimates the same operating point with the
    estimate itself hash-checked, because the DuckDB oracle recomputes
    s from COUNT(*) and audits the identical sub-corpus."""
    from .sources.readers import audit_sample_modulus

    s = audit_sample_modulus(sf_dir, "documents")
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % s == 0)
    return _lsh_recall_report_frame(docs)


def q_events_median_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type median via ``applyInArrow`` — the pure-Arrow
    grouped escape hatch (no pandas conversion: the group arrives as a
    ``pyarrow.Table``, math runs on the Arrow buffer through numpy,
    one tiny table returns).  Beside the pandas UDAF
    (`events_trimmed_mean`) and the JVM sketch (`events_sketch_stats`),
    this completes the three grouped-custom-aggregate tiers.  An exact
    median needs the group's values together (hostile at extreme
    group sizes — that's what the t-digest twin is for); groups here
    are |event_type| ≈ 5, each a bounded slice of the stream."""
    import pyarrow as pa

    def med(table: "pa.Table") -> "pa.Table":
        import numpy as np

        v = table.column("value").to_numpy(zero_copy_only=False)
        return pa.table(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n": [len(v)],
                "median_value": [round(float(np.median(v)), 6)],
            }
        )

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    return ev.groupBy("event_type").applyInArrow(
        med, "event_type string, n bigint, median_value double"
    )


ANALYTICS_ORACLES["events_median_arrow"] = """
    SELECT event_type, COUNT(*) AS n,
           ROUND(median(value), 6) AS median_value
    FROM events GROUP BY event_type
"""


def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    heavy-tail-safe companion of `events_zscore_outliers` (mean/stddev
    break down when the outliers themselves inflate the baseline; the
    median/MAD pair has a 50% breakdown point).  Two aggregation
    passes (per-type median, then median of |x − median|), each a
    |types|-row relation broadcast back onto the stream — the facts
    never shuffle.  The 1.4826 factor rescales MAD to σ-equivalents
    for a normal distribution; flags |x − med| > 3·1.4826·MAD.
    Medians are rounded before the comparison so the flag boundary is
    engine-deterministic."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.expr("percentile(abs(value - med), 0.5)"), 6
            ).alias("mad"),
            F.first("med").alias("med"),
        )
    )
    score = F.abs(F.col("value") - F.col("med")) / (1.4826 * F.col("mad"))
    return (
        ev.join(F.broadcast(dev), "event_type")
        .filter(score > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(score, 4).alias("mad_score"),
        )
    )


ANALYTICS_ORACLES["events_anomaly_mad"] = """
    WITH med AS (
      SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_type,
             ROUND(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad,
             MIN(m.med) AS med
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type)
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 4) AS value,
           ROUND(abs(e.value - d.med) / (1.4826 * d.mad), 4) AS mad_score
    FROM events e JOIN dev d USING (event_type)
    WHERE abs(e.value - d.med) / (1.4826 * d.mad) > 3
"""


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


ANALYTICS_ORACLES["orders_pipe_sql"] = """
    SELECT c_nationkey, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    GROUP BY c_nationkey
    HAVING COUNT(*) > 50
"""


def q_events_sessionize_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessions (operators.events.sessionize_dynamic):
    per-event gap column — error events hold the session open 60 min,
    others 30.  The oracle reproduces Spark's interval-union merge
    with a strictly-preceding running max of interval ends (an event
    starts a new session iff its ts exceeds every previous event's
    ts+gap) — the gaps-and-islands generalization the fixed-gap
    `events_sessionize` lag test can't express."""
    from .operators.events import sessionize_dynamic

    return sessionize_dynamic(_t(spark, sf_dir, "events"))


ANALYTICS_ORACLES["events_sessionize_dynamic"] = """
    WITH ev AS (
      SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
             CASE WHEN event_type = 'error' THEN INTERVAL 60 MINUTE
                  ELSE INTERVAL 30 MINUTE END AS gap
      FROM events),
    x AS (SELECT *, ts + gap AS en FROM ev),
    m AS (SELECT *,
                 MAX(en) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_max
          FROM x),
    f AS (SELECT *, CASE WHEN prev_max IS NULL OR ts > prev_max
                         THEN 1 ELSE 0 END AS ns
          FROM m),
    s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS seq
          FROM f)
    SELECT user_id,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
           CAST(epoch_us(MAX(en)) AS BIGINT) AS session_end_us,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM s GROUP BY user_id, seq
"""


def q_events_reach_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-reach curve: distinct users ever seen, by day — the
    audience-growth line on every analytics dashboard.  Running
    distinct is NOT windowable at scale; the scalable identity is
    first-occurrence: min(day) per user (one shuffle on user_id) →
    new users per day → running sum over the per-day relation, which
    is bounded by the CALENDAR (≤ 31 rows here, ~36.5k for a century)
    — so the final cumulative window is domain-bounded, never
    data-bounded."""
    ev = _t(spark, sf_dir, "events")
    first = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("day"))
    )
    per_day = first.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        F.unix_date("day").alias("day_epoch"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_reach"),
    )


ANALYTICS_ORACLES["events_reach_curve"] = """
    WITH f AS (
      SELECT user_id, MIN(ts::TIMESTAMP::DATE) AS day
      FROM events GROUP BY 1),
    d AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY 1)
    SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS day_epoch,
           new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_reach
    FROM d
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


ANALYTICS_ORACLES["orders_pivot_unpivot_sql"] = """
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS year,
           o_orderstatus AS status, COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
"""


def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-ES): each document draws a hash-seeded
    uniform u and competes with key u^(1/w), w = token count; the
    top-k keys are a weighted sample — one scan plus a top-k, no
    per-stratum passes, reproducible across runs and cluster sizes
    (the classic way a curation pipeline takes a longer-docs-favored
    subsample of a 100 TB corpus).  The uniform comes from the
    cross-engine md5 hash, so the oracle draws the identical sample;
    keys are rounded before ranking (consecutive order statistics of
    5000 uniforms are ~2e-4 apart — far above any pow() ulp noise)."""
    from .operators.text import cross_engine_hash, tokens

    docs = _t(spark, sf_dir, "documents")
    w = F.greatest(F.size(tokens(F.lower(F.col("text")))), F.lit(1))
    u = (cross_engine_hash(F.col("doc_id").cast("string"), seed="ws") + 1) / F.lit(
        2**32 + 1.0
    )
    keyed = docs.select(
        "doc_id",
        w.cast("long").alias("n_tokens"),
        F.round(F.pow(u, 1.0 / w), 10).alias("es_key"),
    )
    # global top-k over the (doc_id, key) projection via the
    # range-partitioned row number — no single-partition window even
    # though only k=200 rows survive
    ranked = range_partitioned_row_number(
        keyed, [F.col("es_key").desc(), F.col("doc_id")], out_col="rk"
    )
    return ranked.filter(F.col("rk") <= 200).select(
        "doc_id", "n_tokens", "es_key", F.col("rk").cast("long").alias("rk")
    )


# DuckDB side of operators.text.cross_engine_hash(doc_id, seed="ws")
_hash_ws = "('0x' || substr(md5(concat('ws:', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT"

ANALYTICS_ORACLES["corpus_weighted_sample"] = f"""
    WITH k AS (
      SELECT doc_id,
             CAST(GREATEST(len({_TOKS}), 1) AS BIGINT) AS n_tokens,
             ROUND(POW(({_hash_ws} + 1) / (4294967296.0 + 1.0),
                       1.0 / GREATEST(len({_TOKS}), 1)), 10) AS es_key
      FROM documents)
    SELECT doc_id, n_tokens, es_key,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS rk
          FROM k)
    WHERE rk <= 200
"""


ANALYTICS_QUERIES = {
    "events_scd2_intervals": q_events_scd2_intervals,
    "events_ewma": q_events_ewma,
    "events_regr_trend": q_events_regr_trend,
    "lineitem_corr_matrix": q_lineitem_corr_matrix,
    "supplier_pareto": q_supplier_pareto,
    "events_bitmap_distinct": q_events_bitmap_distinct,
    "lineitem_dq_checks": q_lineitem_dq_checks,
    "doc_bigram_perplexity": q_doc_bigram_perplexity,
    "corpus_vocab_growth": q_corpus_vocab_growth,
    "orders_lateral_topk": q_orders_lateral_topk,
    "events_trailing_range_sum": q_events_trailing_range_sum,
    "events_stream_rocksdb": q_events_stream_rocksdb,
    "events_variant_props": q_events_variant_props,
    "customer_rfm": q_customer_rfm,
    "orders_snapshot_diff": q_orders_snapshot_diff,
    "ml_als_recs": q_ml_als_recs,
    "pricing_decimal_exact": q_pricing_decimal_exact,
    "part_skyline": q_part_skyline,
    "lineitem_equidepth_histogram": q_lineitem_equidepth_histogram,
    "events_first_last_touch": q_events_first_last_touch,
    "orders_month_spine": q_orders_month_spine,
    "dedup_lsh_recall_report": q_dedup_lsh_recall_report,
    "dedup_lsh_recall_sampled": q_dedup_lsh_recall_sampled,
    "events_median_arrow": q_events_median_arrow,
    "events_anomaly_mad": q_events_anomaly_mad,
    "orders_pipe_sql": q_orders_pipe_sql,
    "events_sessionize_dynamic": q_events_sessionize_dynamic,
    "events_reach_curve": q_events_reach_curve,
    "orders_pivot_unpivot_sql": q_orders_pivot_unpivot_sql,
    "corpus_weighted_sample": q_corpus_weighted_sample,
}
