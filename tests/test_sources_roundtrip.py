"""ORC and binaryFile source coverage (round 4).

ORC must carry the same optimizer contract as parquet (predicate
pushdown + column pruning); binaryFile is the multimodal ingest edge —
opaque payloads plus file metadata, feeding the mapInPandas decoders.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from recommendation_translation_spark.plans.checks import physical_plan
from recommendation_translation_spark.sources.readers import (
    read_media_dir,
    read_orc,
    read_table,
)
from recommendation_translation_spark.sources.writers import write_orc

from .conftest import SF_SMALL


def test_orc_roundtrip_pushdown_and_pruning(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path)

    back = read_orc(spark, path)
    assert back.count() == docs.count()
    # value-identical roundtrip on a deterministic projection
    a = {(r.doc_id, r.source) for r in docs.select("doc_id", "source").collect()}
    b = {(r.doc_id, r.source) for r in back.select("doc_id", "source").collect()}
    assert a == b

    # the optimizer contract: filter reaches the ORC reader, scan
    # prunes to referenced columns
    q = back.filter(F.col("source") == "src0").select("doc_id", "source")
    plan = physical_plan(q)
    assert "PushedFilters" in plan and "source" in plan
    assert "text" not in plan  # pruned: the wide column never loads


def test_orc_partitioned_write_prunes(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    path = str(tmp_path / "docs_orc_part")
    write_orc(docs, path, partition_by=["source"])
    one = read_orc(spark, path).filter(F.col("source") == "src0")
    # partition pruning shows in the scan's partition filters
    plan = physical_plan(one)
    assert "PartitionFilters" in plan and "src0" in plan


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from recommendation_translation_spark.sources.writers import compact_parquet

    path = str(tmp_path / "fragmented")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    docs.repartition(20).write.parquet(path)  # 20 tiny files
    before = {(r.doc_id, r.source) for r in docs.select("doc_id", "source").collect()}

    stats = compact_parquet(spark, path, target_file_mb=128)
    assert stats["files_before"] == 20
    assert stats["files_after"] == 1  # well under one 128 MB target

    back = spark.read.parquet(path)
    after = {(r.doc_id, r.source) for r in back.select("doc_id", "source").collect()}
    assert after == before  # atomic swap lost nothing


def test_parquet_schema_evolution_merges_generations(spark, tmp_path):
    from recommendation_translation_spark.sources.readers import (
        read_parquet_evolving,
    )

    gen1 = str(tmp_path / "gen1")
    gen2 = str(tmp_path / "gen2")
    spark.range(5).select(F.col("id").alias("k")).write.parquet(gen1)
    spark.range(5, 10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("extra")
    ).write.parquet(gen2)

    merged = read_parquet_evolving(spark, gen1, gen2)
    assert set(merged.columns) == {"k", "extra"}
    rows = {r.k: r.extra for r in merged.collect()}
    assert set(rows) == set(range(10))
    assert all(rows[k] is None for k in range(5))       # old gen: NULL
    assert all(rows[k] == 2 * k for k in range(5, 10))  # new gen: value


def test_binaryfile_media_ingest_feeds_decoder(spark, tmp_path):
    media_dir = tmp_path / "media"
    media_dir.mkdir()
    payloads = {
        "a.img": b"\x00\x01payload-a" * 3,
        "b.img": b"\x02\x03payload-b" * 5,
        "c.txt": b"not-an-image",
    }
    for name, data in payloads.items():
        (media_dir / name).write_bytes(data)

    df = read_media_dir(spark, str(media_dir), glob="*.img")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.img", "b.img"}  # glob filtered c.txt
    for name, r in rows.items():
        assert bytes(r.content) == payloads[name]
        assert r.length == len(payloads[name])

    # the ingest edge composes with the multimodal decode plumbing
    from recommendation_translation_spark.operators.multimodal import (
        decode_image_meta,
    )

    media = df.select(
        F.xxhash64("path").alias("sample_id"),
        F.lit("image").alias("media_type"),
        "content",
    )
    meta = decode_image_meta(media)
    want_ids = {
        r.sample_id for r in df.select(F.xxhash64("path").alias("sample_id")).collect()
    }
    got = {r.sample_id: r for r in meta.collect()}
    assert set(got) == want_ids
    assert all(r.width > 0 and r.height > 0 for r in got.values())
    by_len = {r.n_bytes for r in got.values()}
    assert by_len == {len(payloads["a.img"]), len(payloads["b.img"])}


def test_xml_roundtrip(spark, tmp_path):
    from recommendation_translation_spark.sources.readers import read_xml
    from recommendation_translation_spark.sources.writers import write_xml

    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    path = str(tmp_path / "nation_xml")
    write_xml(nation, path, row_tag="nation", root_tag="nations")

    back = read_xml(spark, path, row_tag="nation")
    assert back.count() == nation.count()
    a = {(r.n_nationkey, r.n_name, r.n_regionkey)
         for r in nation.select("n_nationkey", "n_name", "n_regionkey").collect()}
    b = {(r.n_nationkey, r.n_name, r.n_regionkey)
         for r in back.select("n_nationkey", "n_name", "n_regionkey").collect()}
    assert a == b


def test_xml_explicit_schema_skips_inference(spark, tmp_path):
    from recommendation_translation_spark.sources.readers import read_xml
    from recommendation_translation_spark.sources.writers import write_xml

    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    path = str(tmp_path / "nation_xml2")
    write_xml(nation, path, row_tag="nation")
    back = read_xml(spark, path, row_tag="nation",
                    schema="n_nationkey BIGINT, n_name STRING")
    assert back.schema.simpleString() == "struct<n_nationkey:bigint,n_name:string>"
    assert back.count() == nation.count()


def test_python_datasource_writer_two_phase_commit(spark, tmp_path):
    import json
    import os

    from recommendation_translation_spark.sources.pysource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    out = str(tmp_path / "pysink")
    df = spark.read.format("synthetic_events").option("rows", "200").load()
    (df.write.format("synthetic_events").option("path", out)
       .mode("append").save())

    # committed: staging gone, _SUCCESS present with the row total
    assert not os.path.exists(os.path.join(out, "_staging"))
    with open(os.path.join(out, "_SUCCESS")) as fh:
        assert fh.read() == "200"
    rows = []
    for name in os.listdir(out):
        if name.endswith(".jsonl"):
            with open(os.path.join(out, name)) as fh:
                rows += [json.loads(line) for line in fh]
    assert len(rows) == 200
    # content identical to the source relation
    want = {(r.id, r.bucket, round(r.score, 2)) for r in df.collect()}
    got = {(r["id"], r["bucket"], round(r["score"], 2)) for r in rows}
    assert got == want


def test_table_row_count_directory_rewrite_not_stale(tmp_path):
    """table_row_count must refresh when a DIRECTORY table changes
    underneath it — an in-place part rewrite or a new part file does
    not touch the top directory's own stat, so the memo key must
    fingerprint member files (round-8 review)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from recommendation_translation_spark.sources.readers import table_row_count

    d = tmp_path / "docs.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), d / "part-0.parquet")
    assert table_row_count(str(tmp_path), "docs") == 3
    # add a part file; the parent dir mtime may or may not move —
    # force the ambiguous case by pinning the dir's stat times
    import os

    st = os.stat(d)
    pq.write_table(pa.table({"x": [4, 5]}), d / "part-1.parquet")
    os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert table_row_count(str(tmp_path), "docs") == 5


def test_compact_partitioned_clears_stale_staging_and_cleans_on_failure(
    spark, tmp_path
):
    """Round-9 ADVICE #1: (a) debris from a prior interrupted run
    (`._compact_tmp` / `._compact_old` siblings) must not abort the
    next compaction on errorifexists; (b) a FAILED rewrite must remove
    its own staging dir and leave the live table untouched."""
    import os

    from recommendation_translation_spark.sources.writers import (
        compact_partitioned_parquet,
    )

    path = str(tmp_path / "part_table")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "source"
    )
    docs.repartition(4).write.partitionBy("source").parquet(path)
    n = docs.count()

    # (a) stranded staging + old dirs from a hypothetical crashed run
    os.makedirs(path + "._compact_tmp/junk")
    os.makedirs(path + "._compact_old/junk")
    stats = compact_partitioned_parquet(spark, path, ["source"])
    assert stats["files_after"] == stats["partitions"]
    assert not os.path.exists(path + "._compact_tmp")
    assert not os.path.exists(path + "._compact_old")
    assert spark.read.parquet(path).count() == n

    # (b) a failing rewrite (bogus partition column) cleans its staging
    # dir and the live table still reads in full
    try:
        compact_partitioned_parquet(spark, path, ["no_such_col"])
        raised = False
    except Exception:
        raised = True
    assert raised
    assert not os.path.exists(path + "._compact_tmp")
    assert spark.read.parquet(path).count() == n


def test_compact_versioned_parquet_reader_never_sees_gap(spark, tmp_path):
    """compact_versioned_parquet (round-9 verdict #5): a reader
    interleaved with the compaction NEVER observes a missing or mixed
    table — it resolves the atomic ``_CURRENT`` pointer and reads a
    complete immutable version tree on every iteration, before, during
    and after the flip.  Also pins the grace window (the pre-flip
    version survives one compaction for in-flight readers) and GC."""
    import threading

    from recommendation_translation_spark.sources.writers import (
        compact_versioned_parquet,
        list_versions,
        merge_upsert_parquet,
        read_current_version,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "source"
    )
    target = str(tmp_path / "versioned")
    merge_upsert_parquet(spark, target, docs.repartition(16), ["doc_id"])
    n = docs.count()

    stop = threading.Event()
    errors: list[Exception] = []
    reads = [0]

    def reader():
        while not stop.is_set():
            try:
                got = read_current_version(spark, target).count()
                if got != n:
                    raise AssertionError(f"mixed/partial read: {got} != {n}")
                reads[0] += 1
            except Exception as exc:  # noqa: BLE001 — recorded for the assert
                errors.append(exc)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        stats = compact_versioned_parquet(spark, target, keep_versions=2)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not errors, errors[:1]
    assert reads[0] > 0  # the reader really ran during the window
    assert stats["version"] == 2
    assert stats["files_after"] < stats["files_before"]
    assert read_current_version(spark, target).count() == n
    # grace window: the version a just-before-the-flip reader resolved
    # is still on disk; a second compaction with keep_versions=1 GCs it
    assert list_versions(target) == [1, 2]
    stats2 = compact_versioned_parquet(spark, target, keep_versions=1)
    assert stats2["version"] == 3
    assert list_versions(target) == [3]
    assert read_current_version(spark, target).count() == n


def test_compact_versioned_parquet_partitioned_and_orphan_gc(spark, tmp_path):
    """Partitioned versioned compaction: the new version carries the
    partition directory tree (DPP-capable layout) with partition VALUES
    verbatim, and an orphan version dir above the pointer (debris from
    a crashed compaction) is cleared and reused, never read."""
    import os

    from recommendation_translation_spark.sources.writers import (
        compact_versioned_parquet,
        merge_upsert_parquet,
        read_current_version,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "source"
    )
    target = str(tmp_path / "versioned_part")
    merge_upsert_parquet(spark, target, docs.repartition(8), ["doc_id"])
    before = {(r.doc_id, r.source) for r in docs.collect()}

    # orphan _v2 from a hypothetical crash between write and flip
    os.makedirs(os.path.join(target, "_v2", "junk"))
    stats = compact_versioned_parquet(
        spark, target, partition_cols=["source"]
    )
    assert stats["version"] == 2
    v2 = os.path.join(target, "_v2")
    assert not os.path.exists(os.path.join(v2, "junk"))
    assert any(e.startswith("source=src") for e in os.listdir(v2))
    back = read_current_version(spark, target)
    assert {(r.doc_id, r.source) for r in back.collect()} == before


def test_read_table_repeat_read_submits_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
                   tmp_path / "t.parquet")
    sc = spark.sparkContext
    jobs = []
    for i in range(2):
        sc.setJobGroup(f"read_table_probe_{i}", "read_table")
        try:
            df = read_table(spark, str(tmp_path), "t")
        finally:
            sc.setJobGroup(None, None)
        jobs.append(sc.statusTracker().getJobIdsForGroup(f"read_table_probe_{i}"))
    # the first read infers the schema in a Spark job; the repeat does not
    assert jobs[0] and jobs[1] == []
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_read_table_rewritten_table_gets_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert read_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": [0.5, 1.5]}), path)
    back = read_table(spark, str(tmp_path), "t")
    assert back.columns == ["k", "extra"]
    assert sorted(r.extra for r in back.collect()) == [0.5, 1.5]


def test_read_table_missing_table_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        read_table(spark, str(tmp_path), "absent")
