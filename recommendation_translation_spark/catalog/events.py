"""Events: windowed aggregations (tumbling, sliding, sessions), temporal
joins, sketches, temporal modeling (SCD2, EWMA, trends) and the
Structured Streaming rows, which drain a stream into a memory sink and
must equal the batch relation (SURVEY.md §2.9 extension).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import PandasUDFType, pandas_udf

from ..operators.events import (
    resample_ffill,
    resample_interpolate,
    sessionize,
    sessionize_dynamic,
    sliding_agg,
    tumbling_agg,
)
from ..operators.joins import asof_join, range_count
from ..sources.readers import read_events
from ..streaming.events_stream import (
    run_stream_to_memory,
    stream_dedup_counts,
    stream_hopping_agg,
    stream_join_then_agg,
    stream_sessionize,
    stream_static_enrich,
    stream_stream_join,
    stream_tumbling_agg,
    stream_user_stats,
)
from .core import _t

ORACLES: dict[str, str] = {}


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(_t(spark, sf_dir, "events"))


ORACLES["events_tumbling"] = """
        SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP))) AS BIGINT)
                 AS window_start_epoch,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_agg(_t(spark, sf_dir, "events"))


ORACLES["events_sliding"] = """
        SELECT CAST(floor(epoch(time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP)))
                    AS BIGINT) - k.k * 1800 AS window_start_epoch,
               event_type,
               COUNT(*) AS n_events,
               ROUND(AVG(value), 4) AS avg_value
        FROM events, (SELECT unnest([0, 1]) AS k) k
        GROUP BY 1, 2
    """


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(_t(spark, sf_dir, "events"))


ORACLES["events_sessionize"] = """
        WITH flagged AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL THEN 1
                      WHEN CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT)
                           - CAST(floor(epoch(CAST(lag(ts) OVER w AS TIMESTAMP))) AS BIGINT)
                           > 1800 THEN 1
                      ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessioned AS (
          SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM flagged
        )
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               CAST(floor(epoch(MIN(ts)::TIMESTAMP)) AS BIGINT) AS session_start_epoch,
               CAST(floor(epoch(MAX(ts)::TIMESTAMP)) AS BIGINT) AS session_end_epoch,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM sessioned GROUP BY user_id, session_seq
    """


def q_events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: hourly grid per event type with gap-fill
    (sequence+explode dense grid) and forward-filled running value
    (last ignorenulls over a per-type window)."""
    return resample_ffill(_t(spark, sf_dir, "events"))


ORACLES["events_resample_ffill"] = """
    WITH hourly AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS bucket,
             COUNT(*) AS n_events,
             ROUND(SUM(value), 4) AS sum_value
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT event_type,
             unnest(generate_series(MIN(bucket), MAX(bucket),
                                    INTERVAL '1 hour')) AS bucket
      FROM hourly GROUP BY event_type
    )
    SELECT g.event_type,
           CAST(floor(epoch(g.bucket)) AS BIGINT) AS bucket_epoch,
           COALESCE(h.n_events, 0) AS n_events,
           last_value(h.sum_value IGNORE NULLS)
             OVER (PARTITION BY g.event_type ORDER BY g.bucket
                   ROWS UNBOUNDED PRECEDING) AS sum_value_filled,
           CAST(CASE WHEN h.n_events IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
    FROM grid g
    LEFT JOIN hourly h ON g.event_type = h.event_type AND g.bucket = h.bucket
"""


def q_events_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with LINEAR interpolation across gaps
    (nearest observed neighbours; head backfill, tail carry-forward) —
    operators.events.resample_interpolate."""

    return resample_interpolate(_t(spark, sf_dir, "events"))


ORACLES["events_resample_interp"] = """
    WITH hourly AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS bucket,
             ROUND(SUM(value), 4) AS sum_value
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT event_type,
             unnest(generate_series(MIN(bucket), MAX(bucket),
                                    INTERVAL '1 hour')) AS bucket
      FROM hourly GROUP BY event_type
    ), j AS (
      SELECT g.event_type, g.bucket,
             CAST(floor(epoch(g.bucket)) AS BIGINT) * 1000000 AS ue,
             h.sum_value
      FROM grid g
      LEFT JOIN hourly h ON g.event_type = h.event_type AND g.bucket = h.bucket
    ), n AS (
      SELECT event_type, bucket, ue, sum_value,
             last_value(sum_value IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS UNBOUNDED PRECEDING) AS prev_v,
             first_value(sum_value IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             last_value(CASE WHEN sum_value IS NOT NULL
                             THEN ue // 1000000 END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS UNBOUNDED PRECEDING) AS pes,
             first_value(CASE WHEN sum_value IS NOT NULL
                              THEN ue // 1000000 END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nes
      FROM j
    ), fx AS (
      SELECT *,
             CAST(ROUND(prev_v * 10000) AS BIGINT) AS prev_i,
             CAST(ROUND(next_v * 10000) AS BIGINT) AS next_i
      FROM n
    )
    -- gap values in EXACT 1e-4 fixed-point with integer HALF-UP:
    -- float interpolation of 4-dp inputs at rational grid fractions
    -- lands on exact decimal halves where Spark's string-HALF_UP round
    -- and a binary-double ROUND disagree (see resample_interpolate)
    SELECT event_type,
           CAST(ue // 1000000 AS BIGINT) AS bucket_epoch,
           CAST(CASE WHEN sum_value IS NOT NULL THEN 0 ELSE 1 END AS BIGINT)
             AS is_gap,
           CASE WHEN sum_value IS NOT NULL THEN sum_value
                WHEN prev_v IS NULL THEN next_v
                WHEN next_v IS NULL THEN prev_v
                ELSE ((2 * (prev_i * (nes - pes)
                            + (next_i - prev_i) * (ue // 1000000 - pes))
                       + (nes - pes)) // (2 * (nes - pes))) / 10000.0
           END AS sum_value_interp
    FROM fx
"""


def q_events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (errors ⋈ same-user clicks in the
    preceding 30 min), drained from a bounded replay — equals the batch
    time-bounded join, so the oracle is exact."""

    return run_stream_to_memory(stream_stream_join(spark, sf_dir), output_mode="append")


ORACLES["events_stream_join"] = """
    SELECT e.event_id AS err_id,
           c.event_id AS click_id,
           e.user_id,
           epoch_us(e.ts) AS err_ts_us,
           epoch_us(c.ts) AS click_ts_us
    FROM events e JOIN events c
      ON e.user_id = c.user_id
     AND e.event_type = 'error' AND c.event_type = 'click'
     AND c.ts >= e.ts - INTERVAL '30 minutes' AND c.ts <= e.ts
"""


def q_events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming replay of the tumbling aggregation — same
    relation as q_events_tumbling, computed incrementally."""

    return run_stream_to_memory(stream_tumbling_agg(spark, sf_dir))


# events_stream_tumbling shares the tumbling oracle — the streaming
# replay must converge to the batch relation.
ORACLES["events_stream_tumbling"] = """
        SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP))) AS BIGINT)
                 AS window_start_epoch,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """


def q_events_stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hopping (overlapping) windows: 2-hour totals per
    event type refreshed hourly — each event lands in width/slide = 2
    windows.  The oracle reproduces the overlap by unnesting each
    event into its 2 hour-aligned window starts."""

    return run_stream_to_memory(stream_hopping_agg(spark, sf_dir))


ORACLES["events_stream_hopping"] = """
        SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP)))
                    AS BIGINT) - k.k * 3600 AS window_start_epoch,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM events, (SELECT unnest([0, 1]) AS k) k
        GROUP BY 1, 2
    """


def q_events_stream_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming operators (Spark 4): the watermarked
    stream-stream join feeds an hourly tumbling aggregation in the
    SAME query — two state stores, one append-mode sink (pre-Spark-4
    this took two queries bridged by a sink).  Emits the
    watermark-finalized windows; the oracle reproduces the join, the
    hourly rollup, and the finalization cutoff (window end ≤ min of
    both sides' max event time − the 30-minute delay)."""

    return run_stream_to_memory(
        stream_join_then_agg(spark, sf_dir), output_mode="append"
    )


ORACLES["events_stream_chained"] = """
    WITH ev AS (SELECT event_id, user_id, event_type, ts::TIMESTAMP AS ts
                FROM events),
    err AS (SELECT event_id AS err_id, user_id, ts AS err_ts
            FROM ev WHERE event_type = 'error'),
    clk AS (SELECT event_id AS click_id, user_id, ts AS click_ts
            FROM ev WHERE event_type = 'click'),
    wm AS (SELECT least((SELECT max(err_ts) FROM err),
                        (SELECT max(click_ts) FROM clk))
                  - INTERVAL 30 MINUTE AS w),
    j AS (SELECT err_id, click_id, err.user_id, err_ts, click_ts
          FROM err JOIN clk ON err.user_id = clk.user_id
           AND click_ts >= err_ts - INTERVAL 30 MINUTE
           AND click_ts <= err_ts),
    agg AS (SELECT time_bucket(INTERVAL '1 hour', err_ts) AS ws,
                   COUNT(*) AS n_pairs,
                   ROUND(AVG((epoch_us(err_ts) - epoch_us(click_ts)) / 1e6),
                         4) AS avg_lag_s
            FROM j GROUP BY 1)
    SELECT CAST(epoch_us(ws) AS BIGINT) AS window_start_us,
           n_pairs, avg_lag_s
    FROM agg, wm
    WHERE ws + INTERVAL 1 HOUR <= w
"""


def q_events_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState per-user running stats (update mode)."""

    return run_stream_to_memory(stream_user_stats(spark, sf_dir), output_mode="update")


ORACLES["events_stream_stateful"] = """
        SELECT CAST(user_id AS BIGINT) AS user_id,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value,
               MAX(value) AS max_value
        FROM events GROUP BY user_id
    """


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks up the latest same-user
    click at-or-before it (pandas merge_asof semantics, distributed via
    union+window — ONE shuffle, no join blowup; operators.joins)."""
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    wdup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    right = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)  # unique (user, ts) ⇒ deterministic match
        .select("user_id", "ts", "value")
    )
    joined = asof_join(left, right, on="user_id", value_cols=["value"])
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round("asof_value", 4).alias("asof_value"),
        F.unix_micros(F.col("asof_ts")).alias("asof_ts_us"),
    )


ORACLES["events_asof_join"] = """
        WITH r AS (
          SELECT user_id, ts, value FROM (
            SELECT user_id, ts, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click')
          WHERE rn = 1),
        l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
               ROUND(r.value, 4) AS asof_value, epoch_us(r.ts) AS asof_ts_us
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: per error event, how many same-user events
    landed in the preceding 5 minutes — bucketed equi-join, bounded
    fan-out (operators.joins.range_count)."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    out = range_count(errors, ev, on="user_id", window_seconds=300)
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("n_in_range").cast("long").alias("n_in_range"),
    )


ORACLES["events_range_join"] = """
        SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
               CAST(COUNT(a.event_id) AS BIGINT) AS n_in_range
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        LEFT JOIN events a
          ON a.user_id = e.user_id
         AND a.ts >= e.ts - INTERVAL 5 MINUTE AND a.ts < e.ts
        GROUP BY e.event_id, e.user_id, e.ts
    """


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion funnel: per user, the first click, the
    first purchase at-or-after it, and whether it converted within 30
    minutes.  Two conditional aggregations over one shuffle by user —
    no self-join."""
    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        )
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(per_user, "user_id")
        .filter(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        per_user.filter(F.col("first_click").isNotNull())
        .join(purch, "user_id", "left")
        .select(
            "user_id",
            F.unix_micros("first_click").alias("first_click_us"),
            F.unix_micros("first_purchase").alias("first_purchase_us"),
            (
                F.col("first_purchase").isNotNull()
                & (F.unix_micros("first_purchase") - F.unix_micros("first_click")
                   <= 1800 * 1_000_000)
            ).alias("converted_30m"),
        )
    )


ORACLES["events_funnel"] = """
        WITH pu AS (
          SELECT user_id,
                 MIN(ts) FILTER (WHERE event_type = 'click') AS first_click
          FROM events GROUP BY user_id
        ), pp AS (
          SELECT e.user_id, MIN(e.ts) AS first_purchase
          FROM events e JOIN pu ON e.user_id = pu.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= pu.first_click
          GROUP BY e.user_id
        )
        SELECT pu.user_id,
               epoch_us(pu.first_click) AS first_click_us,
               epoch_us(pp.first_purchase) AS first_purchase_us,
               (pp.first_purchase IS NOT NULL
                AND epoch_us(pp.first_purchase) - epoch_us(pu.first_click)
                    <= 1800 * 1000000) AS converted_30m
        FROM pu LEFT JOIN pp ON pu.user_id = pp.user_id
        WHERE pu.first_click IS NOT NULL
    """


def q_events_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates — the 100 TB path where exact distinct
    counts / quantiles would shuffle every value: HyperLogLog++ distinct
    users and approximate value percentiles per event type, fixed-size
    state per group regardless of data volume.  Output = exact twins
    plus per-estimate 5%-relative-error bound flags (the estimates
    themselves are engine-specific; the flags are deterministic for a
    given dataset), so the driver hash-checks the sketch accuracy
    instead of recording rows-only (round-4 verdict #6).
    tests/test_curation.py additionally bounds the raw errors."""
    ev = _t(spark, sf_dir, "events")
    # exact interpolated quantiles at p and p∓0.02: the flag is
    # "within 5% of the interpolated value OR inside the exact
    # [p−0.02, p+0.02] window".  The window term matters: the sketch
    # returns an ACTUAL data value (rank-exact for n < accuracy), and
    # in a sparse tail the nearest order statistic can sit >5% in
    # VALUE from the interpolated quantile while being rank-identical
    # — the pure value bound flipped p99 at sf0.001 (round-5 sweep).
    ps = [0.48, 0.50, 0.52, 0.93, 0.95, 0.97, 0.97, 0.99, 1.00]
    prof = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), F.lit(10_000)
        ).alias("apcts"),
        F.percentile("value", F.array(*[F.lit(p) for p in ps])).alias("epcts"),
        F.count("*").alias("n"),
    )

    def bound(a, lo, mid, hi):
        return (F.abs(a - mid) / F.abs(mid) < 0.05) | a.between(lo, hi)

    e = F.col("epcts")
    a = F.col("apcts")
    return prof.select(
        "event_type",
        "exact_users",
        F.round(e[1], 2).alias("p50"),
        F.round(e[4], 2).alias("p95"),
        F.round(e[7], 2).alias("p99"),
        "n",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            < 0.05
        ).alias("users_err_lt_5pct"),
        bound(a[0], e[0], e[1], e[2]).alias("p50_err_lt_5pct"),
        bound(a[1], e[3], e[4], e[5]).alias("p95_err_lt_5pct"),
        bound(a[2], e[6], e[7], e[8]).alias("p99_err_lt_5pct"),
    )


ORACLES["events_approx_stats"] = """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           ROUND(quantile_cont(value, 0.5), 2) AS p50,
           ROUND(quantile_cont(value, 0.95), 2) AS p95,
           ROUND(quantile_cont(value, 0.99), 2) AS p99,
           COUNT(*) AS n,
           TRUE AS users_err_lt_5pct,
           TRUE AS p50_err_lt_5pct,
           TRUE AS p95_err_lt_5pct,
           TRUE AS p99_err_lt_5pct
    FROM events GROUP BY event_type
"""


def q_events_user_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function family over the event stream: per user-ordered
    event, gap since the previous event (lag), position (row_number),
    value decile within its event type (ntile) and cumulative
    distribution (cume_dist) — one shuffle per distinct partitioning,
    both partitioned (a global ORDER BY window would single-thread at
    scale; per-type deciles keep every window parallel)."""
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("event_type").orderBy(F.round("value", 4), F.col("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(wu).alias("pos_in_user"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))).alias("gap_us"),
        F.ntile(10).over(wv).alias("value_decile"),
        F.round(F.cume_dist().over(wv), 8).alias("value_cume"),
    )


ORACLES["events_user_lag"] = """
        SELECT event_id, user_id,
               CAST(ROW_NUMBER() OVER wu AS INT) AS pos_in_user,
               epoch_us(ts) - epoch_us(LAG(ts) OVER wu) AS gap_us,
               CAST(NTILE(10) OVER wv AS INT) AS value_decile,
               ROUND(CUME_DIST() OVER wv, 8) AS value_cume
        FROM events
        WINDOW wu AS (PARTITION BY user_id ORDER BY ts, event_id),
               wv AS (PARTITION BY event_type ORDER BY ROUND(value, 4), event_id)
    """


def q_events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier detection (|z| > 3): one pass computes
    the per-type mean/stddev (map-side partials), broadcast back onto
    the stream, and the z filter runs scan-side — the stats side is
    |types| rows at ANY scale factor, so the join never shuffles the
    facts.  Stats are rounded before the division so the z boundary is
    engine-deterministic."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sd"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


ORACLES["events_zscore_outliers"] = """
    WITH stats AS (
      SELECT event_type,
             ROUND(AVG(value), 6) AS mu,
             ROUND(STDDEV_SAMP(value), 6) AS sd
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 4) AS value,
           ROUND((e.value - mu) / sd, 4) AS zscore
    FROM events e JOIN stats USING (event_type)
    WHERE ABS((e.value - mu) / sd) > 3
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events props column (get_json_object —
    codegen'd, no UDF): distribution of the k property by event type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLES["events_json_props"] = """
        WITH k AS (
          SELECT event_type,
                 CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
          FROM events
          WHERE regexp_extract(props, '"k": ([0-9]+)', 1) <> ''
        )
        SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
               MIN(k) AS min_k, MAX(k) AS max_k
        FROM k GROUP BY event_type
    """


def q_events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar heat-map aggregation: events bucketed by (day-of-week,
    hour-of-day) — the time-profile rollup of an event pipeline.  Pure
    extracts feeding one aggregate (one shuffle of 168 groups)."""
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hod"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


ORACLES["events_hourly_heatmap"] = """
    SELECT CAST(dayofweek(ts::TIMESTAMP) AS BIGINT) AS dow,
           CAST(hour(ts::TIMESTAMP) AS BIGINT) AS hod,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
"""


def q_events_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based per-type profile: HyperLogLog++ distinct users and
    approximate median computed side-by-side with their exact twins,
    and the OUTPUT is the exact values plus boolean relative-error
    bounds (|est − exact| / exact < 5%).  Sketches are the 100 TB path
    (bounded memory, mergeable partials); the raw estimates themselves
    are engine-specific so they can't be hashed against DuckDB — but
    the bound flags are deterministic functions of this dataset, so
    the driver NOW range-checks the sketch accuracy (oracle emits the
    exact twins and TRUE literals): a sketch drifting past 5% flips a
    flag and fails the hash, which is exactly the check a rows-only
    row never gave (round-4 verdict #6)."""
    ev = read_events(spark, sf_dir)
    prof = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("hll_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10_000)).alias("td_p50"),
        F.percentile(
            "value", F.array(F.lit(0.48), F.lit(0.5), F.lit(0.52))
        ).alias("epcts"),
    )
    # value-5% OR exact [p−0.02, p+0.02] window — see q_events_approx_stats
    # for why the window term is required (sketches return order
    # statistics, not interpolations)
    return prof.select(
        "event_type",
        "exact_users",
        F.round(F.col("epcts")[1], 4).alias("exact_p50"),
        (
            F.abs(F.col("hll_users") - F.col("exact_users"))
            / F.col("exact_users")
            < 0.05
        ).alias("users_err_lt_5pct"),
        (
            (
                F.abs(F.col("td_p50") - F.col("epcts")[1])
                / F.abs(F.col("epcts")[1])
                < 0.05
            )
            | F.col("td_p50").between(F.col("epcts")[0], F.col("epcts")[2])
        ).alias("p50_err_lt_5pct"),
    )


# Bounded-accuracy oracles for the sketch queries (round-4 verdict #6):
# the raw HLL++/KLL estimates are engine-specific, but the 5% bound
# flags are deterministic for a given dataset, so the oracle emits the
# exact twins plus TRUE literals — a sketch drifting past the bound
# flips a flag and fails the hash.
ORACLES["events_sketch_stats"] = """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           ROUND(quantile_cont(value, 0.5), 4) AS exact_p50,
           TRUE AS users_err_lt_5pct,
           TRUE AS p50_err_lt_5pct
    FROM events GROUP BY event_type
"""


def q_events_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch workflow (Spark 4 Apache DataSketches surface):
    one HLL sketch per (event_type, day) partial, then
    ``hll_union_agg`` merges the partials per type — the actual 100 TB
    pattern, where per-partition/per-day sketches are precomputed at
    ingest and unioned at query time without touching raw data again.
    Output = exact distinct users + day count + a deterministic
    5%-relative-error bound flag on the MERGED estimate (the estimate
    itself is engine-specific, the flag is not — same contract as
    events_sketch_stats).  Day keys derive from epoch microseconds
    (``unix_micros div 86.4e9``), timezone-free on both engines."""
    ev = read_events(spark, sf_dir)
    day = F.expr("unix_micros(ts) div 86400000000")
    daily = ev.groupBy("event_type", day.alias("d")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        F.col("n_days").cast("long").alias("n_days"),
        (
            F.abs(F.col("est") - F.col("exact_users")) / F.col("exact_users")
            < 0.05
        ).alias("merged_err_lt_5pct"),
    )


ORACLES["events_hll_merge"] = """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(DISTINCT epoch_us(ts) // 86400000000) AS n_days,
           TRUE AS merged_err_lt_5pct
    FROM events GROUP BY event_type
"""


def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming at-least-once dedup: the doubled event stream restored
    to unique events by dropDuplicatesWithinWatermark, drained, then
    profiled per type — must converge to the batch relation."""

    deduped = run_stream_to_memory(
        stream_dedup_counts(spark, sf_dir), output_mode="append"
    )
    return deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# the streaming dedup of the doubled stream must converge to the plain
# batch per-type profile
ORACLES["events_stream_dedup"] = """
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1
"""


def q_events_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming enrichment against a static dimension (user tiers),
    aggregated per tier — the stream-STATIC join surface next to the
    watermarked stream-stream join."""

    return run_stream_to_memory(stream_static_enrich(spark, sf_dir))


ORACLES["events_stream_static"] = """
        SELECT CASE CAST(user_id AS BIGINT) % 3
                 WHEN 0 THEN 'bronze' WHEN 1 THEN 'silver' ELSE 'gold'
               END AS tier,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM events GROUP BY 1
    """


def q_events_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDAF (§2.10 surface): 10%-trimmed mean
    of value per event type.  The UDAF receives each group's column as
    one Arrow-backed pandas Series — the right escape hatch for
    order-statistics aggregates the built-ins lack.  Values ride as
    integer cents; the final mean is one IEEE division of exact
    operands, so the SQL oracle (rank-window trim) matches bit-for-bit."""

    # explicit GROUPED_AGG functionType: the module's `from __future__
    # import annotations` turns type hints into strings, which the
    # hint-based pandas_udf inference can't read
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean_cents(v):
        s = v.sort_values().to_numpy()
        k = len(s) // 10
        t = s[k : len(s) - k]
        return float(t.sum()) / len(t)

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def trimmed_n(v):
        k = len(v) // 10
        return len(v) - 2 * k

    ev = read_events(spark, sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    return ev.groupBy("event_type").agg(
        trimmed_mean_cents("cents").alias("trimmed_mean_cents"),
        trimmed_n("cents").alias("n_used"),
    )


ORACLES["events_trimmed_mean"] = """
    WITH c AS (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
               FROM events),
    r AS (SELECT event_type, cents,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM c)
    SELECT event_type,
           CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS trimmed_mean_cents,
           CAST(COUNT(*) AS BIGINT) AS n_used
    FROM r
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY 1
"""


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (Markov bigrams): one lag
    window per user (ts, event_id total order) then a count per
    (prev → cur) pair — the path-analysis shape behind funnel and
    next-action models.  Window and aggregate share the user
    partitioning; no self-join of the event stream."""
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    return (
        ev.withColumn("prev_type", prev)
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("cur_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


ORACLES["events_transitions"] = """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS cur_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
"""

# streaming sessionize: the batch gap-sessions whose window end
# (last event + gap) the final watermark (max ts − gap) has passed.
_STREAM_SESSIONIZE_SQL = """
    WITH ev AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value FROM events),
    mx AS (SELECT max(ts) AS mts FROM ev),
    flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
                  ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ),
    sess AS (
      SELECT user_id, session_seq, MIN(ts) AS st, MAX(ts) AS en,
             COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
      FROM sessioned GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(floor(epoch(st)) AS BIGINT) AS session_start_epoch,
           n_events, sum_value
    FROM sess, mx
    WHERE en + INTERVAL 30 MINUTE <= mts - INTERVAL 30 MINUTE
"""


def q_events_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window sessionization (append mode); emits the
    watermark-finalized subset of the batch sessions."""

    return run_stream_to_memory(stream_sessionize(spark, sf_dir), output_mode="append")


ORACLES["events_stream_sessionize"] = _STREAM_SESSIONIZE_SQL


def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup in ONE pass: per (type, day),
    per (type) and grand totals via GROUPING SETS over date_trunc —
    Catalyst expands to a single Expand + hash aggregate, not three
    scans (the OLAP time-dimension companion of pricing_rollup)."""
    ev = read_events(spark, sf_dir)
    day = F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us")
    base = ev.select(F.col("event_type"), day, F.col("value"))
    rolled = base.rollup("event_type", "day_us").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return rolled.select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        F.coalesce("day_us", F.lit(-1)).cast("long").alias("day_us"),
        "n_events",
        "sum_value",
    )


ORACLES["events_time_rollup"] = """
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(CAST(floor(epoch(date_trunc('day', ts::TIMESTAMP)))
                    AS BIGINT) * 1000000, -1) AS day_us,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY ROLLUP (event_type, date_trunc('day', ts::TIMESTAMP))
"""


def q_events_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the 100 TB pattern where a
    daily rollup is kept current by merging ONLY the new partition's
    partials into the stored ones instead of rescanning the corpus.
    Here both legs are computed (base = days before 2024-01-24, delta
    = days from it) and merged by re-aggregating the mergeable
    partials: count→sum, sum→sum, min→min, max→max.  Every measure is
    integer fixed-point (value×10⁴ — the generator emits ≤4-decimal
    values, so the cast is lossless), making the merge algebra EXACTLY
    associative: the two-leg result is bit-identical to the oracle's
    single full GROUP BY, which is the property that lets a real
    deployment trust incremental maintenance.  Derived mean uses
    integer ``div`` — no float in any output column.  Per leg this is
    one map-side-combined shuffle on (day, type); the merge union
    re-aggregates ~|days×types| rows, not raw events."""
    # day rides as an ISO string (the catalog's date idiom — DATE
    # columns stringify differently across engines); ISO sorts/compares
    # lexicographically, so the cutoff filter stays a string compare
    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.round(F.col("value") * 10000).cast("long").alias("v_fp"),
    )

    def partials(leg: DataFrame) -> DataFrame:
        return leg.groupBy("day", "event_type").agg(
            F.count("*").alias("n"),
            F.sum("v_fp").alias("sum_fp"),
            F.min("v_fp").alias("min_fp"),
            F.max("v_fp").alias("max_fp"),
        )

    cutoff = "2024-01-24"
    merged = (
        partials(ev.filter(F.col("day") < cutoff))
        .unionByName(partials(ev.filter(F.col("day") >= cutoff)))
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_fp").alias("sum_fp"),
            F.min("min_fp").alias("min_fp"),
            F.max("max_fp").alias("max_fp"),
        )
    )
    return merged.select(
        "day",
        "event_type",
        "n",
        "sum_fp",
        "min_fp",
        "max_fp",
        F.expr("CAST(sum_fp DIV n AS BIGINT)").alias("mean_fp"),
    )


ORACLES["events_incremental_agg"] = """
    SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS sum_fp,
           MIN(CAST(ROUND(value * 10000) AS BIGINT)) AS min_fp,
           MAX(CAST(ROUND(value * 10000) AS BIGINT)) AS max_fp,
           CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT))
                // COUNT(*) AS BIGINT) AS mean_fp
    FROM events GROUP BY 1, 2
"""


def q_events_orders_cogroup(
    spark: SparkSession, sf_dir: str, _n_shards: int = 64
) -> DataFrame:
    """``groupBy().cogroup().applyInPandas`` — the 'two streams per
    entity' custom-logic shape (events and orders co-partitioned per
    user, each key's two Arrow batches handed to ONE pandas function).
    Per user: counts on both sides plus each side's median in EXACT
    integer form — medians are doubled so the even-count midpoint stays
    integral (fp4 event values, order cents are integers; numpy's
    midpoint and DuckDB's quantile_cont(0.5) interpolate identically
    on exact-integer doubles < 2⁵³, and ×2 removes the only fractional
    case).  Keys present on one side only keep the other side's stats
    NULL/0 — cogroup's full-outer semantics, mirrored by the oracle's
    FULL JOIN of the two group-bys.

    Scale discipline — the part that makes applyInPandas viable at
    100 TB: the cogroup KEY is a 64-way SHARD of the entity key, not
    the entity itself.  Grouping on the raw user_id would invoke the
    Python function once per user (~1.4 ms of interpreter overhead
    each — measured 21 s for 15k users at sf0.1); sharding invokes it
    64× and computes ALL of a shard's per-user stats with one
    vectorized pandas groupby inside (~1.6 s, 13×).  Output and oracle
    are identical — the shard is purely an execution key
    (``_n_shards`` is exposed ONLY so the property test can pin that
    claim: shard count ∈ {1, 7, 64} must produce the identical
    relation)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 10000).cast("long").alias("v_fp")
    )
    od = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    n_shards = _n_shards
    ev = ev.withColumn("shard", F.pmod("user_id", F.lit(n_shards)))
    od = od.withColumn("shard", F.pmod("user_id", F.lit(n_shards)))

    def per_shard(key, ev_pdf, od_pdf):
        def side(pdf, val_col, n_name, med_name):
            if not len(pdf):
                return pd.DataFrame(
                    columns=["user_id", n_name, med_name]
                ).astype({"user_id": "int64", n_name: "int64"})
            g = pdf.groupby("user_id")[val_col]
            out = g.agg(n="size", med="median").reset_index()
            # exact-integer medians: double the midpoint (values are
            # integers < 2^53, so the .5 cases become exact integers).
            # Nullable Int64: a user whose values are all NULL medians
            # to NaN (size still counts the rows, matching the
            # oracle's COUNT(*) vs quantile_cont NULL split) and must
            # surface as SQL NULL, not crash the int cast.
            out[med_name] = (out["med"] * 2).round().astype("Int64")
            return out.rename(columns={"n": n_name})[
                ["user_id", n_name, med_name]
            ]

        e = side(ev_pdf, "v_fp", "n_events", "med2_event_fp4")
        o = side(od_pdf, "cents", "n_orders", "med2_order_cents")
        m = e.merge(o, on="user_id", how="outer")
        m["n_events"] = m["n_events"].fillna(0).astype("int64")
        m["n_orders"] = m["n_orders"].fillna(0).astype("int64")
        return m[
            ["user_id", "n_events", "n_orders",
             "med2_event_fp4", "med2_order_cents"]
        ]

    return (
        ev.groupBy("shard")
        .cogroup(od.groupBy("shard"))
        .applyInPandas(
            per_shard,
            "user_id long, n_events long, n_orders long, "
            "med2_event_fp4 long, med2_order_cents long",
        )
    )


ORACLES["events_orders_cogroup"] = """
    WITH e AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(2 * quantile_cont(CAST(ROUND(value * 10000) AS BIGINT), 0.5)
                  AS BIGINT) AS med2_event_fp4
      FROM events GROUP BY user_id),
    o AS (
      SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
             CAST(2 * quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT),
                                    0.5) AS BIGINT) AS med2_order_cents
      FROM orders GROUP BY o_custkey)
    SELECT COALESCE(e.user_id, o.user_id) AS user_id,
           CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
           e.med2_event_fp4,
           o.med2_order_cents
    FROM e FULL JOIN o ON e.user_id = o.user_id
"""


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


ORACLES["events_scd2_intervals"] = """
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


ORACLES["events_ewma"] = """
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


ORACLES["events_regr_trend"] = """
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


ORACLES["events_bitmap_distinct"] = """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
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


ORACLES["events_trailing_range_sum"] = """
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

    return run_stream_to_memory(
        stream_tumbling_agg(spark, sf_dir), state_store="rocksdb"
    )


# same relation as the batch tumbling aggregation — the provider must
# not change the result (text mirrors ORACLES["events_stream_tumbling"])
ORACLES["events_stream_rocksdb"] = """
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


ORACLES["events_variant_props"] = """
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k,
           CAST(props->>'$.k' AS BIGINT) % 7 = 0 AS k_div7,
           CAST(props->>'$.missing' AS BIGINT) AS k_missing
    FROM events
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


ORACLES["events_first_last_touch"] = """
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

    def med(table: "pa.Table") -> "pa.Table":
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


ORACLES["events_median_arrow"] = """
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


ORACLES["events_anomaly_mad"] = """
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


def q_events_sessionize_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessions (operators.events.sessionize_dynamic):
    per-event gap column — error events hold the session open 60 min,
    others 30.  The oracle reproduces Spark's interval-union merge
    with a strictly-preceding running max of interval ends (an event
    starts a new session iff its ts exceeds every previous event's
    ts+gap) — the gaps-and-islands generalization the fixed-gap
    `events_sessionize` lag test can't express."""

    return sessionize_dynamic(_t(spark, sf_dir, "events"))


ORACLES["events_sessionize_dynamic"] = """
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


ORACLES["events_reach_curve"] = """
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


QUERIES = {
    "events_tumbling": q_events_tumbling,
    "events_sliding": q_events_sliding,
    "events_sessionize": q_events_sessionize,
    "events_resample_ffill": q_events_resample_ffill,
    "events_resample_interp": q_events_resample_interp,
    "events_stream_join": q_events_stream_join,
    "events_stream_tumbling": q_events_stream_tumbling,
    "events_stream_hopping": q_events_stream_hopping,
    "events_stream_chained": q_events_stream_chained,
    "events_stream_stateful": q_events_stream_stateful,
    "events_asof_join": q_events_asof_join,
    "events_range_join": q_events_range_join,
    "events_funnel": q_events_funnel,
    "events_approx_stats": q_events_approx_stats,
    "events_user_lag": q_events_user_lag,
    "events_zscore_outliers": q_events_zscore_outliers,
    "events_json_props": q_events_json_props,
    "events_hourly_heatmap": q_events_hourly_heatmap,
    "events_sketch_stats": q_events_sketch_stats,
    "events_hll_merge": q_events_hll_merge,
    "events_stream_dedup": q_events_stream_dedup,
    "events_stream_static": q_events_stream_static,
    "events_trimmed_mean": q_events_trimmed_mean,
    "events_transitions": q_events_transitions,
    "events_stream_sessionize": q_events_stream_sessionize,
    "events_time_rollup": q_events_time_rollup,
    "events_incremental_agg": q_events_incremental_agg,
    "events_orders_cogroup": q_events_orders_cogroup,
    "events_scd2_intervals": q_events_scd2_intervals,
    "events_ewma": q_events_ewma,
    "events_regr_trend": q_events_regr_trend,
    "events_bitmap_distinct": q_events_bitmap_distinct,
    "events_trailing_range_sum": q_events_trailing_range_sum,
    "events_stream_rocksdb": q_events_stream_rocksdb,
    "events_variant_props": q_events_variant_props,
    "events_first_last_touch": q_events_first_last_touch,
    "events_median_arrow": q_events_median_arrow,
    "events_anomaly_mad": q_events_anomaly_mad,
    "events_sessionize_dynamic": q_events_sessionize_dynamic,
    "events_reach_curve": q_events_reach_curve,
}
