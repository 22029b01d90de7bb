"""Structured Streaming forms of the event-window operators.

The reference is pure batch (SURVEY.md §2.9); this module gives the
``readStream`` equivalents so the same logical aggregation runs
incrementally.  For tests/smoke the parquet events table is replayed as
a bounded stream and drained synchronously into a memory sink.

Scale notes: in production these would read Kafka with a watermark and
``outputMode("append")``; the memory-sink/complete-mode combination
here is the deterministic bounded-replay harness, not the deployment
shape.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import normalize_event_ts, read_table

__all__ = [
    "stream_tumbling_agg",
    "stream_hopping_agg",
    "stream_sessionize",
    "stream_static_enrich",
    "stream_stream_join",
    "stream_user_stats",
    "stream_user_stats_tws",
    "stream_join_then_agg",
    "stream_dedup_counts",
    "stream_docs_dedup_gate",
    "run_stream_to_memory",
    "drop_memory_sink_tables",
    "stream_events_to_parquet",
    "stream_upsert_user_totals",
]


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the events parquet as a stream.

    Schema comes from a batch peek (readStream requires an explicit
    schema); the ns-as-long timestamp gets the same normalization as
    sources.readers.read_events."""
    # Vanilla sessions (the correctness driver's) can't read the
    # TIMESTAMP(NANOS) column without this; see sources.readers.read_events.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = read_table(spark, sf_dir, "events").schema
    # FileStreamSource needs a directory; the sf dir holds one parquet
    # file per table, so glob-filter down to the events file.
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # ONE normalization shared with the batch reader — the streaming
    # replay must land on the identical TimestampType values the
    # batch relations (and their oracles) use
    return normalize_event_ts(spark, stream)


def stream_tumbling_agg(spark: SparkSession, sf_dir: str, width: str = "1 hour") -> DataFrame:
    """Streaming tumbling-window count/sum per event_type — the
    incremental form of operators.events.tumbling_agg (same output)."""
    # tumbling IS the slide == width special case of hopping: one
    # implementation, one output contract
    return stream_hopping_agg(spark, sf_dir, width=width, slide=width)


def stream_hopping_agg(spark: SparkSession, sf_dir: str, width: str = "2 hours",
                       slide: str = "1 hour") -> DataFrame:
    """Streaming hopping-window (overlapping) count/sum per event_type:
    every event lands in ``width/slide`` windows.  Same incremental
    state machinery as the tumbling form — one state row per (window,
    type) — with windows overlapping by ``width − slide``; the classic
    dashboard smoothing shape ("2-hour totals refreshed hourly")."""
    events = _events_stream(spark, sf_dir)
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_sessionize(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Streaming gap-sessionization via ``session_window`` + watermark.

    The incremental form of operators.events.sessionize: state is one
    open session per (user, window), merged as events arrive, emitted in
    append mode once the watermark passes the session end.  In a bounded
    replay the watermark stops at ``max(ts) − gap``, so sessions ending
    after that cutoff stay open (never emitted) — the deterministic
    subset the oracle reproduces with the same cutoff rule.
    """
    events = _events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", gap)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_epoch"),
            "n_events",
            "sum_value",
        )
    )


def stream_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (n_events, sum_value, max_value).

    The state handle holds one row per user and survives across
    micro-batches; each batch emits the user's updated running totals
    (update mode).  This is the Arrow-batched escape hatch for stateful
    logic ``session_window`` can't express (counters, model state,
    custom eviction).  The bounded replay here arrives as one batch
    (single input file), so the drained memory sink holds exactly one
    final row per user — which is what the oracle checks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = _events_stream(spark, sf_dir)

    output_schema = "user_id bigint, n_events bigint, sum_value double, max_value double"
    state_schema = "n bigint, s double, m double"

    def update(key, pdfs, state: GroupState):
        n, s, m = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            m = max(m, float(pdf["value"].max()))
        state.update((n, s, m))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(s, 4)],
                "max_value": [m],
            }
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the event stream enriched against a bounded
    batch dimension (user tiers), then aggregated per tier.

    The static side needs no watermark and no state — each micro-batch
    plans a fresh broadcast join against it, the standard streaming
    enrichment shape (dim tables in streaming ETL).  Completes the
    join surface next to the watermarked stream-stream join."""
    events = _events_stream(spark, sf_dir)
    # r14 (guide §4 — keep the static side JVM-local): the dim table is
    # built from range(), not createDataFrame — a python-list
    # createDataFrame parallelizes pickled rows into defaultParallelism
    # slices, and in a STREAM the per-batch broadcast build re-runs
    # that 32-task job every micro-batch (profiled 1.4 s for 3 rows).
    # Same rows, same schema; one partition, zero python boundary.
    tiers = spark.range(0, 3, 1, 1).select(
        F.col("id").alias("tier_id"),
        F.element_at(
            F.array(F.lit("bronze"), F.lit("silver"), F.lit("gold")),
            (F.col("id") + 1).cast("int"),
        ).alias("tier"),
    )
    return (
        events.withColumn("tier_id", F.col("user_id").cast("long") % 3)
        .join(F.broadcast(tiers), "tier_id")
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def stream_stream_join(
    spark: SparkSession, sf_dir: str, window_minutes: int = 30,
    keep_event_time: bool = False,
) -> DataFrame:
    """Watermarked stream-stream inner join: each error event joined to
    the same user's click events in the preceding ``window_minutes``.

    Both sides carry watermarks and the join condition carries the
    event-time range — the contract Structured Streaming needs to bound
    the join state (click rows are evicted once the error-side watermark
    passes click_ts + window).  State is therefore O(window × rate), not
    O(stream).  In the bounded single-batch replay nothing is evicted
    mid-join, so the result equals the batch time-bounded join and the
    oracle is exact SQL.
    """
    wm = f"{window_minutes} minutes"
    errors = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", wm)
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", wm)
    )
    return errors.join(
        clicks,
        F.expr(
            f"""err_user = click_user
                AND click_ts >= err_ts - INTERVAL {window_minutes} MINUTES
                AND click_ts <= err_ts"""
        ),
        "inner",
    ).select(
        "err_id",
        "click_id",
        F.col("err_user").alias("user_id"),
        F.unix_micros("err_ts").alias("err_ts_us"),
        F.unix_micros("click_ts").alias("click_ts_us"),
        # the RAW event-time column (watermark metadata intact) for
        # chained stateful consumers — a rebuilt timestamp_micros copy
        # loses the watermark and append-mode aggs downstream fail
        *([F.col("err_ts")] if keep_event_time else []),
    )


def stream_join_then_agg(
    spark: SparkSession, sf_dir: str, window_minutes: int = 30
) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 4
    multi-stateful support): the watermarked stream-stream join feeds a
    tumbling hourly aggregation downstream — one query, two state
    stores, append mode.  Before Spark 4 this required two queries
    bridged by a sink; watermark propagation now finalizes the
    downstream windows once the upstream join can no longer produce
    rows for them.  Emits the finalized subset: windows whose end the
    final global watermark (min of both sides' max event time, minus
    the delay) has passed."""
    joined = stream_stream_join(
        spark, sf_dir, window_minutes=window_minutes, keep_event_time=True
    )
    return (
        joined.groupBy(F.window("err_ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.avg((F.col("err_ts_us") - F.col("click_ts_us")) / 1e6), 4
            ).alias("avg_lag_s"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_pairs",
            "avg_lag_s",
        )
    )


def run_stream_to_memory(
    agg: DataFrame,
    output_mode: str = "complete",
    shuffle_partitions: int = 8,
    state_store: str | None = None,
) -> DataFrame:
    """Drain a bounded streaming aggregation synchronously; returns the
    final result as a batch DataFrame (memory sink).

    Stateful streaming allocates one state store per shuffle partition,
    and store setup/commit dominates a small bounded replay — 32
    partitions cost ~4× the wall clock of 8 for identical results.  The
    conf is set for the duration of the drain and restored after.  In
    production the number is sized to stateful-key cardinality ×
    throughput (hundreds+ for a real Kafka stream), not to this replay
    default — results are partition-count-independent either way.

    ``state_store="rocksdb"`` runs the drain under the
    RocksDBStateStoreProvider — the provider a long-running production
    query needs (state spills to local disk + changelog, instead of
    living wholly in executor heap as with the default HDFS-backed
    provider, whose memory footprint grows with key cardinality).
    Results are provider-independent; the conf is captured at query
    START, so it's set before ``start()`` and restored after.
    """
    spark = agg.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    _PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(_PROVIDER_CONF, None)
    if shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if state_store == "rocksdb":
        spark.conf.set(
            _PROVIDER_CONF,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    elif state_store is not None:
        # a typo ('RocksDB', 'rocks') must not silently run under the
        # default provider while the caller believes it pinned RocksDB
        raise ValueError(f"unknown state_store {state_store!r}; use 'rocksdb' or None")
    try:
        name = f"stream_out_{uuid.uuid4().hex[:8]}"
        query = (
            agg.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        # track IMMEDIATELY after start() registered the sink: if the
        # drain below raises, the table is already in the catalog and
        # must stay reclaimable by drop_memory_sink_tables (round-7
        # advisor — success-path-only tracking leaked failed drains)
        _MEMORY_SINK_TABLES.append(name)
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if state_store == "rocksdb":
            if prev_provider is None:
                spark.conf.unset(_PROVIDER_CONF)
            else:
                spark.conf.set(_PROVIDER_CONF, prev_provider)
    return spark.table(name)


# Memory-sink tables this module has registered: each holds its full
# result set in driver memory for the session lifetime (the sink has
# no TTL, and catalog cache clearing does not touch temp views).
# Long-lived loops call :func:`drop_memory_sink_tables` between
# queries, AFTER the previous result has been materialized.
_MEMORY_SINK_TABLES: list[str] = []


def drop_memory_sink_tables(spark: SparkSession) -> int:
    """Drop every memory-sink table registered by
    :func:`run_stream_to_memory`; returns how many were dropped.
    Only call once prior results have been collected — the DataFrames
    those drains returned read FROM these tables."""
    n = 0
    while _MEMORY_SINK_TABLES:
        name = _MEMORY_SINK_TABLES.pop()
        try:
            spark.catalog.dropTempView(name)
            n += 1
        except Exception:
            pass  # already dropped, or registered on another session
    return n


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-once deduplication: the event stream unioned
    with itself (every record arrives twice) is restored to unique
    events by ``dropDuplicatesWithinWatermark`` on event_id — the
    production idiom for at-least-once sources (Kafka replays), where
    dedup state is evicted once the watermark passes an id's event
    time instead of growing forever.

    Returns the deduped APPEND stream; the bounded-replay result must
    equal the batch events relation, which is what the oracle checks
    (per-type counts after draining)."""
    doubled = _events_stream(spark, sf_dir).unionAll(_events_stream(spark, sf_dir))
    return (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the documents parquet as a stream — the
    ``_events_stream`` pattern (batch schema peek + pathGlobFilter)
    pointed at the corpus table, for the ingest-side curation
    operators."""
    batch_schema = read_table(spark, sf_dir, "documents").schema
    return (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_docs_dedup_gate(
    spark: SparkSession, sf_dir: str, k: int = 16, bands: int = 8, n: int = 3
) -> DataFrame:
    """Streaming ingest DEDUP GATE: incoming documents near-dup-checked
    against the static corpus AT INGEST TIME — the stream-side half of
    ``operators.dedup.incremental_dedup_flags`` (crawl lands as a
    stream; the N-billion-doc corpus contributes only its precomputed
    band table).

    Mechanics, all stream-legal: MinHash banding runs as the
    row-local projection twin (``minhash_bands_rowlocal`` — the batch
    path's groupBy(min) is a streaming aggregation, refused in append
    mode; the projection computes bit-identical band digests with
    zero shuffle); the corpus band table joins as the STATIC
    side of a left-outer stream-static join (clean documents survive
    with a null match); ``dropDuplicates`` on (doc_id, old_id) — the
    query's one stateful operator — collapses multi-band collisions of
    the same pair so a corpus doc counts once no matter how many bands
    it shares.  Emits the deduped candidate PAIRS in append mode; the
    per-document rollup (candidate count, clean flag) is a batch
    aggregation over the drained sink — gate semantics: candidates are
    flagged in-stream, exact-Jaccard verification stays a downstream
    batch job (``dedup_incremental``).

    Production posture: with an ingest-time column the dedup state
    would be ``dropDuplicatesWithinWatermark`` (as in
    ``stream_dedup_counts``); the bounded replay keeps plain
    dropDuplicates so the result is exactly the batch relation the
    oracle states."""
    from ..operators.curation import hash_split
    from ..operators.dedup import minhash_bands, minhash_bands_rowlocal

    docs = read_table(spark, sf_dir, "documents")
    corpus = (
        hash_split(docs).filter(F.col("split") != "test").select("doc_id", "text")
    )
    corpus_bands = minhash_bands(corpus, k=k, bands=bands, n=n).select(
        F.col("doc_id").alias("old_id"), "band", "band_hash"
    )
    batch_stream = (
        hash_split(_docs_stream(spark, sf_dir))
        .filter(F.col("split") == "test")
        .select("doc_id", "text")
    )
    # row-local banding: the batch path's explode + groupBy(min) is a
    # streaming aggregation (append mode refuses it); the projection
    # twin emits bit-identical bands with ZERO shuffle and no state
    new_bands = minhash_bands_rowlocal(batch_stream, k=k, bands=bands, n=n)
    cand = new_bands.join(corpus_bands, ["band", "band_hash"], "left_outer")
    return cand.select("doc_id", "old_id").dropDuplicates(["doc_id", "old_id"])


def stream_events_to_parquet(spark: SparkSession, sf_dir: str,
                             out_dir: str, checkpoint_dir: str) -> None:
    """Durable file sink with checkpointed exactly-once semantics.

    ``checkpointLocation`` records which source files each committed
    batch consumed; a RESTART with the same checkpoint replays nothing
    already committed, so the parquet output holds every input row
    exactly once no matter how many times the query is re-run — the
    recovery contract a production pipeline relies on (the memory-sink
    harness above can't show it; this one is pinned by
    tests/test_streaming_sinks.py with a stop/restart).
    ``Trigger.AvailableNow`` drains the backlog and stops, the
    incremental-batch idiom for periodic jobs."""
    ev = _events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    q = (
        ev.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_upsert_user_totals(spark: SparkSession, sf_dir: str,
                              target_dir: str, checkpoint_dir: str) -> None:
    """Streaming UPSERT via ``foreachBatch`` + the versioned merge sink:
    per-user running totals are merged into a keyed parquet target on
    every micro-batch (update mode — only users whose totals changed
    ship to the sink).

    foreachBatch is the bridge from a stream to any batch writer; with
    an idempotent-by-key sink like merge_upsert_parquet the combination
    is effectively exactly-once per key even under batch retries.  The
    sink's _CURRENT pointer means readers never observe a half-written
    merge."""
    from ..sources.writers import merge_upsert_parquet

    totals = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )

    def upsert(batch_df, batch_id):
        merge_upsert_parquet(batch_df.sparkSession, target_dir, batch_df, ["user_id"])

    q = (
        totals.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_user_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-user running stats as :func:`stream_user_stats`,
    on the NEW Spark 4 arbitrary-state API (``transformWithStateInPandas``
    + ``StatefulProcessor`` with a typed ValueState handle) — the
    successor to applyInPandasWithState, adding typed state kinds
    (value/list/map), timers, and RocksDB-backed stores.  Same output
    relation, so the existing oracle verifies both APIs.

    Requires the RocksDB state-store provider (bundled with Spark 4)
    and the Python ``protobuf`` package (state serialization speaks
    protobuf).  This container ships NO python protobuf;
    ``session.ensure_python_protobuf`` wires the cloud-sdk's vendored
    runtime onto sys.path + PYTHONPATH before the JVM starts (round-12
    verdict #8), which makes this run end-to-end here — the dedicated
    test only skips on a host with neither a real nor a vendored
    protobuf, and the applyInPandasWithState twin above covers the
    semantics everywhere."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    # NOTE: the RocksDB provider this API requires is NOT set here —
    # setting it at build time would mutate the shared session for
    # every later streaming query (the provider is read at query
    # START, not analysis).  Drain with
    # ``run_stream_to_memory(..., state_store="rocksdb")``, which sets
    # and RESTORES the conf around start().
    events = _events_stream(spark, sf_dir)

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState(
                "running", "n bigint, s double, m double"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self.state.exists():
                n, s, m = self.state.get()
            else:
                n, s, m = 0, 0.0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
                m = max(m, float(pdf["value"].max()))
            self.state.update((n, s, m))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [round(s, 4)],
                    "max_value": [m],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningStats(),
            outputStructType=(
                "user_id bigint, n_events bigint, sum_value double, "
                "max_value double"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
