"""Sources, layout and multimodal plumbing: the Python data source,
TSV/parquet round trips, schema evolution and compaction, the Z-order
and bucketed-join layout claims, and media metadata decoding.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.layout import write_zordered
from ..operators.multimodal import (
    attach_fake_media,
    attach_png_media,
    best_decoder,
    chunk_audio_windows,
    decode_image_meta,
    sample_video_frames,
)
from ..sources.pysource import register_synthetic_source
from ..sources.readers import read_pagecounts, read_sitelinks_tsv
from ..sources.writers import compact_parquet, write_bucketed_table, write_parquet
from .core import _t

ORACLES: dict[str, str] = {}


def q_mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: payload size + digest via column exprs."""
    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    return media.select(
        "sample_id",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_md5").alias("content_md5"),
    )


ORACLES["mm_media_meta"] = """
        SELECT doc_id AS sample_id,
               'image/fake' AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5
        FROM documents
    """


def q_mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode (deterministic fake decoder);
    the oracle reproduces the md5-derived dimensions in SQL."""
    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    out = decode_image_meta(media)
    return out.select(
        "sample_id",
        "n_bytes",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "mode",
    )


ORACLES["mm_decode_meta"] = """
        SELECT doc_id AS sample_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(16 + ('0x' || substr(md5(text), 1, 2))::BIGINT % 240 AS BIGINT) AS width,
               CAST(16 + ('0x' || substr(md5(text), 3, 2))::BIGINT % 240 AS BIGINT) AS height,
               'RGB' AS mode
        FROM documents
    """


def q_mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round trip, hash-gated (round-6 verdict #7): every
    document becomes a well-formed grayscale PNG (stdlib zlib+CRC
    encoder, dimensions closed-form in doc_id), then ``best_decoder()``
    — the container-header parser here, PIL where available — re-reads
    (width, height, mode) from the actual byte structure.  The oracle
    states the same dims in SQL, so a hash match proves the encoder
    emitted and the parser recovered the true container metadata for
    every row; n_bytes is zlib-dependent and deliberately excluded.
    Parser errors on any payload fail the whole query (no fake
    fallback)."""

    media = attach_png_media(_t(spark, sf_dir, "documents"))
    out = decode_image_meta(media, decoder=best_decoder())
    return out.select(
        "sample_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "mode",
    )


# mm_decode_png: dims are closed-form in doc_id by construction
# (attach_png_media), so SQL can assert what the real PNG
# encode->header-parse round trip must recover.
ORACLES["mm_decode_png"] = """
        SELECT doc_id AS sample_id,
               CAST(1 + doc_id % 64 AS BIGINT) AS width,
               CAST(1 + (doc_id // 64) % 64 AS BIGINT) AS height,
               'L' AS mode
        FROM documents
    """


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame-sampling plumbing: mapInPandas explodes each media
    payload into per-frame digest rows (1 row in → ⌈len/64⌉ rows out)
    — the Arrow batch shape of a real ffmpeg frame sampler, with the
    codec stubbed deterministically (operators.multimodal)."""

    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    frames = sample_video_frames(media, every_n=64, unit="chars")
    return frames.select(
        "sample_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "frame_md5",
    )


ORACLES["mm_frame_sample"] = """
    SELECT doc_id AS sample_id,
           CAST(i AS BIGINT) AS frame_idx,
           md5(substring(text, i*64+1, 64)) AS frame_md5
    FROM documents,
         LATERAL (SELECT unnest(range(0, greatest((length(text)+63)//64, 1))) AS i) t
"""


def q_mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-windowing plumbing (operators.multimodal.chunk_audio_windows):
    each opaque PCM payload explodes into fixed 400 ms windows with
    integer sample spans and millisecond bounds — the fbank-style
    front end, stubbed deterministically (1 byte/sample, 16 kHz).  The
    digest column is dropped here (DuckDB cannot slice BLOBs; the
    digest path is pytest-pinned) so every remaining column is exact
    integer math the oracle reproduces from octet_length alone."""

    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    win = chunk_audio_windows(media, sample_rate=16_000, window_ms=400)
    return win.select(
        "sample_id",
        F.col("window_idx").cast("long").alias("window_idx"),
        "start_ms",
        "end_ms",
        "n_in_window",
    )


# chunk_audio_windows twin: 6400 samples / window (16 kHz × 400 ms ×
# 1 byte/sample), ceil via negative-floor trick, ≥1 window per sample
ORACLES["mm_audio_windows"] = """
    WITH m AS (
      SELECT doc_id AS sample_id,
             octet_length(encode(text)) AS n_samples
      FROM documents),
    w AS (
      SELECT sample_id, n_samples,
             unnest(range(0, GREATEST(CAST(CEIL(n_samples / 6400.0) AS BIGINT),
                                      1))) AS widx
      FROM m)
    SELECT sample_id,
           CAST(widx AS BIGINT) AS window_idx,
           widx * 6400 * 1000 // 16000 AS start_ms,
           LEAST(n_samples, (widx + 1) * 6400) * 1000 // 16000 AS end_ms,
           LEAST(n_samples, (widx + 1) * 6400) - widx * 6400 AS n_in_window
    FROM w
"""


def q_pysource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource scan (Spark 4 DataSource API): a
    partitioned deterministic generator source, aggregated per bucket.
    The oracle regenerates the identical relation from range() with
    the same md5-derived values — proving the source surface, the
    partitioning, and the rows all line up.  (sf_dir is unused: the
    source IS the data.)"""

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", "2000")
        .option("partitions", "8")
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("score"), 2).alias("sum_score"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


ORACLES["pysource_scan"] = """
    WITH gen AS (
      SELECT i AS id,
             ('0x' || substr(md5('b:' || i), 1, 8))::BIGINT % 10 AS bucket,
             (('0x' || substr(md5('s:' || i), 1, 8))::BIGINT % 10000) / 100.0 AS score
      FROM (SELECT unnest(range(0, 2000)) AS i))
    SELECT bucket, COUNT(*) AS n_rows, ROUND(SUM(score), 2) AS sum_score,
           MIN(id) AS min_id, MAX(id) AS max_id
    FROM gen GROUP BY 1
"""


def _run_dir(name: str, sf_dir: str) -> str:
    """Addressable per-(query, sf) scratch dir under /tmp, CLEARED at
    the start of each invocation (round-6 ADVICE #3: mkdtemp leaked a
    full artifact tree per bench/parity run).  Later invocations
    overwrite the same path, so nothing accumulates across runs."""

    d = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_runs",
        f"{name}_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def q_pysource_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource WRITER driver row (round-6 verdict #8): the
    per-priority orders rollup is written through the two-phase-commit
    jsonl writer (sources.pysource._JsonlTwoPhaseWriter — tasks stage
    private files, only the driver's commit() publishes them + a
    _SUCCESS marker), then read BACK from the published files and
    returned.  The oracle recomputes the rollup straight from orders,
    so a lost row, a double-published staging file, or a botched
    rename all hash-mismatch; the _SUCCESS marker rides as a checked
    flag."""

    register_synthetic_source(spark)
    d = _run_dir("pysource_write", sf_dir)
    out = os.path.join(d, "out")
    rollup = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
    )
    rollup.write.format("synthetic_events").mode("append").save(out)
    back = (
        spark.read.schema(
            "o_orderpriority string, n_orders long, total_cents long"
        )
        .option("pathGlobFilter", "part-*.jsonl")
        .json(out)
    )
    return back.withColumn(
        "committed", F.lit(os.path.exists(os.path.join(out, "_SUCCESS")))
    )


ORACLES["pysource_write_roundtrip"] = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           TRUE AS committed
    FROM orders GROUP BY o_orderpriority
"""


def q_parquet_prune_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-parquet sink driver row (round-6 verdict #8): orders
    is written through sources.writers.write_parquet with
    ``partition_by=o_orderpriority`` (S5/S7 — the layout that buys
    partition pruning downstream), read back with a single-partition
    filter, and rolled up per month.  The oracle computes the same
    rollup from the unpartitioned source, so partition-value mangling,
    row loss in the sink, or a filter that reads the wrong partition
    all hash-mismatch.  The pruning itself (only the one partition
    directory scanned) is asserted plan-side in pytest."""

    d = _run_dir("parquet_prune", sf_dir)
    out = os.path.join(d, "orders_by_prio")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("prio"),
    )
    write_parquet(orders, out, partition_by=["prio"])
    back = spark.read.parquet(out).filter(F.col("prio") == "1-URGENT")
    return back.groupBy(
        F.col("prio").cast("string").alias("prio"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("total_cents"),
        F.min("o_orderkey").alias("min_orderkey"),
    )


ORACLES["parquet_prune_roundtrip"] = """
    SELECT o_orderpriority AS prio,
           strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           MIN(o_orderkey) AS min_orderkey
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1, 2
"""


def q_pysource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom Python DataSource (Spark 4
    SimpleDataSourceStreamReader): the same deterministic generator
    relation as pysource_scan arrives in 500-row micro-batches, drains
    through a memory sink, and aggregates per bucket — so it shares
    pysource_scan's exact SQL oracle.  Offsets are {"i": next_id} dicts
    and readBetweenOffsets regenerates any span, the replay contract a
    recoverable streaming source must honor.  (sf_dir unused: the
    source IS the data.)

    Robustness: the stream's FIRST Python worker spawn can exceed the
    fixed `spark.python.authenticate.socketTimeout` (15 s, a core conf
    a running session cannot change) on a loaded host — the round-3
    bench hit exactly that.  So (a) a trivial batch scan of the same
    source warms the worker daemon BEFORE the stream starts (with
    spark.python.worker.reuse the micro-batches then draw from the
    warm pool), and (b) the drain retries once from scratch on
    failure."""

    register_synthetic_source(spark)
    spark.read.format("synthetic_events").option("rows", "1").load().count()
    last_exc = None
    for _ in range(2):
        stream = (
            spark.readStream.format("synthetic_events")
            .option("rows", "2000")
            .option("batch", "500")
            .load()
        )
        name = f"pysource_stream_{uuid.uuid4().hex[:8]}"
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()  # returns once read() reports caught-up
            last_exc = None
            break
        except Exception as exc:  # cold-start socket timeout: retry once
            last_exc = exc
        finally:
            q.stop()
    if last_exc is not None:
        raise last_exc
    return (
        spark.table(name)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("score"), 2).alias("sum_score"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
    )


# the streaming form emits the identical relation — same oracle
ORACLES["pysource_stream"] = ORACLES["pysource_scan"]


def q_tsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + S3 CSV option semantics under the driver's hash check.

    Writes a deterministic TSV/pagecounts fixture pair (content derived
    from the ``nation`` keys — a fixed 25-row domain, same bounded
    posture as the reference's site list) laced with malformed lines,
    then reads it back through the EXACT reference option sets
    (readers.py:68 sitelinks — header/inferSchema/DROPMALFORMED/tab,
    DataGatherer.scala:37-44; readers.py:100 pagecounts — \\u0000
    quote/escape, explicit schema, DROPMALFORMED, space sep,
    DataGatherer.scala:78-92) and full-outer joins the two on title.

    Every option is load-bearing for the hash: the under- and
    over-length lines must be DROPPED (DROPMALFORMED), the embedded
    ``"`` must survive literally (quote disabled via \\u0000), the
    ``.z``-suffix filter must drop the ``.y`` row and rewrite the
    suffix to ``wiki`` — the oracle reconstructs the clean relation
    straight from ``nation``, so any deviation in reader semantics
    mismatches.

    The projection deliberately keeps EVERY fixture column: Spark's
    CSV column pruning (``spark.sql.csv.parser.columnPruning.enabled``,
    default on) parses only the referenced columns, and a row is only
    flagged malformed against the columns actually parsed — select a
    subset and DROPMALFORMED silently keeps wrong-arity rows.  The
    reference binds the full row type (DataGatherer.scala:44), so
    full-width is both the faithful and the correctly-dropping read."""

    keys = sorted(
        r.n_nationkey
        for r in _t(spark, sf_dir, "nation").select("n_nationkey").collect()
    )
    d = tempfile.mkdtemp(prefix="tsv_roundtrip_")
    sl_path = f"{d}/sitelinks.tsv"
    pc_path = f"{d}/pagecounts.txt"
    with open(sl_path, "w") as f:
        f.write("id\tsite\ttitle\n")
        for k in keys:
            f.write(f"Q{k}\tsite{k}.z\tTitle_{k}\n")
        f.write("Q900\tsolo.z\tOnly_in_sitelinks\n")  # no pagecounts twin
        f.write("malformed_single_token_line\n")  # under-length → dropped
        f.write("QX\ttoo\tmany\tfields\there\n")  # over-length → dropped
    with open(pc_path, "w") as f:
        for k in keys:
            f.write(f"site{k}.z Title_{k} {k * 10 + 7}\n")
        f.write('zz.z "Anarchism"_(book) 42\n')  # literal quote char
        f.write("keep.y Dropped_by_suffix 5\n")  # fails the .z filter
        f.write("xx.z four token line 9\n")  # over-length → dropped
        f.write("yy.z only_two\n")  # under-length → dropped
    sl = read_sitelinks_tsv(spark, sl_path).select(
        "id", F.col("site").alias("sl_site"), "title"
    )
    pc = read_pagecounts(spark, pc_path)
    # outer-join misses surface as explicit sentinels, not NULLs: a NULL
    # in a leading sort column breaks order-insensitive row comparison
    out = pc.join(sl, "title", "full").select(
        "title",
        F.coalesce("site", F.lit("-")).alias("site"),
        F.coalesce("pageviews", F.lit(-1.0)).alias("pageviews"),
        F.coalesce("id", F.lit("-")).alias("id"),
        F.coalesce("sl_site", F.lit("-")).alias("sl_site"),
    )
    # Eagerly materialize the (≤ |nation|+2 row) result: a bare
    # ``count()`` on a CSV plan prunes ALL columns, and DROPMALFORMED
    # only drops rows whose PARSED columns misparse (SPARK-21610) — so
    # an unmaterialized plan would count the malformed lines it is
    # supposed to drop.  The checkpoint pins the fully-parsed relation
    # for every downstream action.
    return out.localCheckpoint(eager=True)


ORACLES["tsv_roundtrip"] = """
    WITH sl AS (
      SELECT 'Q' || CAST(n_nationkey AS VARCHAR) AS id,
             'site' || CAST(n_nationkey AS VARCHAR) || '.z' AS sl_site,
             'Title_' || CAST(n_nationkey AS VARCHAR) AS title
      FROM nation
      UNION ALL SELECT 'Q900', 'solo.z', 'Only_in_sitelinks'),
    pc AS (
      SELECT 'site' || CAST(n_nationkey AS VARCHAR) || 'wiki' AS site,
             'Title_' || CAST(n_nationkey AS VARCHAR) AS title,
             CAST(n_nationkey * 10 + 7 AS DOUBLE) AS pageviews
      FROM nation
      UNION ALL SELECT 'zzwiki', '"Anarchism"_(book)', CAST(42 AS DOUBLE))
    SELECT COALESCE(pc.title, sl.title) AS title,
           COALESCE(pc.site, '-') AS site,
           COALESCE(pc.pageviews, -1.0) AS pageviews,
           COALESCE(sl.id, '-') AS id,
           COALESCE(sl.sl_site, '-') AS sl_site
    FROM pc FULL JOIN sl ON pc.title = sl.title
"""


def q_lineitem_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout under the driver's hash check: lineitem is
    rewritten Z-ordered on (l_quantity, l_extendedprice) into 32 files
    (operators.layout.write_zordered — Morton key, range partition,
    sort within), then a two-dimensional corner rectangle (~2% of
    rows) is scanned back.  Because the Morton curve keeps BOTH
    dimensions compact per file, all matching rows land in a handful
    of files; ``clustered`` asserts at least a 2× reduction
    (files-with-matches ≤ 16 of 32 — actual is ~1-3; an unclustered
    layout scatters matches across all 32 w.h.p.).  The same file
    min/max statistics drive parquet row-group pruning on a real
    lake, so this is the multi-dimensional scan-reduction claim of
    SCALE.md measured inside a query.  Revenue folds as per-row
    integer cents (exact, associative).  The rewrite is the one-off
    layout cost bucketing/Z-ordering always pays; the measured scan
    is what repeats at 100 TB."""

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    path = tempfile.mkdtemp(prefix="zorder_scan_") + "/lineitem_z"
    write_zordered(li, path, ["l_quantity", "l_extendedprice"], n_files=32)
    back = (
        spark.read.parquet(path)
        .filter(
            (F.col("l_quantity") <= 5.0) & (F.col("l_extendedprice") <= 20000.0)
        )
        # input_file_name() is non-deterministic to the analyzer, so it
        # must be projected BEFORE the aggregate, not inside it
        .withColumn("_file", F.input_file_name())
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "price_cents"
        ),
        F.count_distinct("_file").alias("_files_hit"),
    ).select(
        "n_rows",
        "price_cents",
        (F.col("_files_hit") * 2 <= F.lit(32)).alias("clustered"),
    )


ORACLES["lineitem_zorder_pruning"] = """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents,
           TRUE AS clustered
    FROM lineitem
    WHERE l_quantity <= 5.0 AND l_extendedprice <= 20000.0
"""


def q_orders_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed fact-to-fact join under the driver's hash check: orders
    and lineitem are written as 8-bucket tables hashed and sorted on
    the order key (sources.writers.write_bucketed_table), then joined
    bucket-to-bucket.  Bucketing pays the shuffle ONCE at write time —
    the join itself plans with ZERO Exchange on either side (pinned by
    tests/test_plan_quality.py), which at 100 TB is the difference
    between an hours-long shuffle and a co-located scan for joins too
    big to broadcast.  Revenue is exact integer 10⁻⁴-dollar units
    (cents × integer discount-% complement) so the post-join rollup is
    associative and engine-portable.  Tables are external (temp-dir
    path) and ``mode=overwrite`` keeps repeat runs idempotent; the
    bucket count is a stand-in for the 100 TB choice (buckets sized so
    one bucket ≈ one task's memory)."""

    d = tempfile.mkdtemp(prefix="bucketed_join_")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
    )
    write_bucketed_table(
        orders, "tmp_bkt_orders", ["o_orderkey"], n_buckets=8,
        sort_cols=["o_orderkey"], path=f"{d}/orders", mode="overwrite",
    )
    write_bucketed_table(
        li, "tmp_bkt_lineitem", ["l_orderkey"], n_buckets=8,
        sort_cols=["l_orderkey"], path=f"{d}/lineitem", mode="overwrite",
    )
    o = spark.table("tmp_bkt_orders")
    l = spark.table("tmp_bkt_lineitem")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("price_c") * (F.lit(100) - F.col("disc_pct")))
            .alias("rev_fp4"),
        )
    )


ORACLES["orders_bucketed_join"] = """
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS BIGINT) AS rev_fp4
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
"""


def q_docs_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches under the driver's hash
    check — the lake-ingestion reality that later batches carry new
    columns: batch 1 writes (doc_id, lang), batch 2 adds n_chars, and
    the unified read uses ``mergeSchema`` so batch-1 rows surface the
    new column as NULL.  The rollup counts rows with/without the
    evolved column per language — any deviation in merge semantics
    (column order, NULL fill, type widening) breaks the hash.  At
    100 TB mergeSchema costs a footer read per FILE, so production
    pins the evolved schema in a catalog/metastore instead; the READ
    semantics verified here are identical.  Batch routing is
    doc_id % 2 — deterministic, no data dependency."""

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="schema_evo_")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.parquet(
        f"{d}/batch=1"
    )
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars"
    ).write.parquet(f"{d}/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(d)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.count("n_chars").alias("n_evolved"),
        F.sum(F.when(F.col("n_chars").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_legacy"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("sum_chars"),
    )


ORACLES["docs_schema_evolution"] = """
    SELECT lang,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_evolved,
           CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_legacy,
           CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END), 0)
                AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
"""


def q_docs_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (sources.writers.compact_parquet — the
    OPTIMIZE-style maintenance pass) under the driver's hash check: the
    documents projection is deliberately fragmented into 48 files (the
    streaming-sink pathology), compacted to byte-sized targets via the
    staged-rename swap, and read back — the per-language rollup proves
    the rewrite lost nothing and ``compacted`` pins the file-count
    reduction.  At 100 TB this is the scheduled job that keeps scan
    listing/footer cost flat; coalesce-based, so the rewrite itself
    never shuffles."""

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = tempfile.mkdtemp(prefix="compaction_") + "/docs"
    docs.repartition(48).write.parquet(d)
    stats = compact_parquet(spark, d, target_file_mb=128)
    return (
        spark.read.parquet(d)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn(
            "compacted", F.lit(stats["files_after"] < stats["files_before"])
        )
    )


ORACLES["docs_compaction"] = """
    SELECT lang, COUNT(*) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           TRUE AS compacted
    FROM documents GROUP BY lang
"""


QUERIES = {
    "mm_media_meta": q_mm_media_meta,
    "mm_decode_meta": q_mm_decode_meta,
    "mm_decode_png": q_mm_decode_png,
    "mm_frame_sample": q_mm_frame_sample,
    "mm_audio_windows": q_mm_audio_windows,
    "pysource_scan": q_pysource_scan,
    "pysource_write_roundtrip": q_pysource_write_roundtrip,
    "parquet_prune_roundtrip": q_parquet_prune_roundtrip,
    "pysource_stream": q_pysource_stream,
    "tsv_roundtrip": q_tsv_roundtrip,
    "lineitem_zorder_pruning": q_lineitem_zorder_pruning,
    "orders_bucketed_join": q_orders_bucketed_join,
    "docs_schema_evolution": q_docs_schema_evolution,
    "docs_compaction": q_docs_compaction,
}
