"""Unit tests for operators.curation that aren't SQL-oracle-expressible:
dup_clusters (iterative connected components) vs a driver-side
union-find oracle, including the chain topology that punishes plain
min-propagation.
"""

from __future__ import annotations

import random

from recommendation_translation_spark.operators.curation import dup_clusters


def _union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id per component
    return {n: find(n) for n in parent}


def _check(spark, pairs: list[tuple[int | None, int | None]]):
    df = spark.createDataFrame(pairs, "a_id long, b_id long")
    # default (size-gated driver union-find for small edge sets) AND
    # the forced distributed pointer-jumping path must BOTH equal the
    # reference union-find over the pairs without a NULL endpoint —
    # the round-10 adaptive gate may never change labels, only job
    # counts
    want = _union_find([(a, b) for a, b in pairs if None not in (a, b)])
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(df).collect()}
    assert got == want
    got_dist = {
        r["doc_id"]: r["cluster_id"]
        for r in dup_clusters(df, driver_threshold=0).collect()
    }
    assert got_dist == want


def test_clusters_chain(spark):
    # a 200-node chain: worst case for 1-hop propagation; pointer
    # jumping must still converge within the iteration cap.
    _check(spark, [(i, i + 1) for i in range(200)])


def test_clusters_random_graph(spark):
    rng = random.Random(7)
    pairs = [(rng.randrange(300), rng.randrange(300)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    _check(spark, pairs)


def test_clusters_cliques_and_singletons(spark):
    # two cliques + an isolated edge; nodes with no edges don't appear
    pairs = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    pairs += [(10 + a, 10 + b) for a in range(4) for b in range(a + 1, 4)]
    pairs += [(100, 101)]
    _check(spark, pairs)


def test_clusters_duplicates_self_loops_and_nulls(spark):
    # the driver union-find reads the raw pairs, the distributed path
    # their symmetrized distinct edges: duplicate pairs, reversed
    # duplicates, self-loops and NULL endpoints change neither
    pairs = [(1, 2), (1, 2), (2, 1), (2, 8), (3, 3), (3, 4), (4, 3),
             (5, 5), (5, 5), (6, None), (None, 7), (None, None), (9, 3)]
    _check(spark, pairs)


def test_clusters_gate_counts_fetched_pairs(spark):
    # at the gate the driver path runs; one pair past it the
    # distributed path does — same labels either way
    from recommendation_translation_spark.plans.checks import physical_plan

    pairs = [(i, i + 1) for i in range(0, 20, 2)] + [(0, 1)] * 5
    df = spark.createDataFrame(pairs, "a_id long, b_id long")
    want = _union_find(pairs)
    for threshold, on_driver in ((len(pairs), True), (len(pairs) - 1, False)):
        out = dup_clusters(df, driver_threshold=threshold)
        # the driver path returns its labels as a local relation
        plan = physical_plan(out, mode="simple")
        assert ("LocalTableScan" in plan) == on_driver, plan
        assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == want


def test_clusters_empty_input_has_nonempty_schema(spark):
    # the driver path types its Arrow label table from the edge schema,
    # so an empty edge set yields the same schema as a non-empty one
    for schema, pairs in (
        ("a_id long, b_id long", [(1, 2)]),
        ("a_id string, b_id string", [("x", "y")]),
    ):
        empty = dup_clusters(spark.createDataFrame([], schema))
        full = dup_clusters(spark.createDataFrame(pairs, schema))
        assert empty.schema == full.schema
        assert empty.collect() == []
        assert len(full.collect()) == 2


def test_approx_stats_error_bounds(spark):
    """The sketch queries carry their own deterministic 5%-bound flags
    (round-4 verdict #6) — every flag must be True at sf0.01, which is
    the same predicate the driver hashes against the TRUE literals in
    the oracle."""
    from recommendation_translation_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    for q in ("events_approx_stats", "events_sketch_stats"):
        rows = QUERIES[q](spark, sf).collect()
        assert rows, q
        for r in rows:
            flags = [c for c in r.asDict() if c.endswith("_err_lt_5pct")]
            assert flags, q
            for c in flags:
                assert r[c] is True, (q, r["event_type"], c)


def test_incremental_dedup_flags_semantics(spark):
    """Hand-built corpus/batch: a batch doc duplicating a corpus doc is
    flagged n_dup_corpus>0; of two intra-batch duplicates only the
    LOWER id stays is_new (min-id keep rule); unique docs stay new."""
    from recommendation_translation_spark.operators.dedup import (
        incremental_dedup_flags,
    )

    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    uniq = "completely different content about distributed query planning"
    corpus = spark.createDataFrame(
        [(1, dup_text), (2, "an unrelated corpus document about parquet files")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, dup_text),  # dups corpus doc 1
            (11, uniq),      # dups batch doc 12's twin — lower id, kept
            (12, uniq),      # same text as 11 — higher id, dropped
            (13, "a third thing entirely about watermarks and state stores"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in incremental_dedup_flags(
            corpus, batch, k=16, bands=8, threshold=0.5
        ).collect()
    }
    assert set(got) == {10, 11, 12, 13}
    assert got[10]["n_dup_corpus"] >= 1 and not got[10]["is_new"]
    assert got[11]["n_dup_corpus"] == 0 and got[11]["n_dup_batch"] == 0
    assert got[11]["is_new"]
    assert got[12]["n_dup_batch"] == 1 and not got[12]["is_new"]
    assert got[13]["is_new"]


def test_chunk_audio_windows_digest_and_edges(spark):
    """The digest path (raw byte slices — not SQL-expressible, so not
    oracle-gated) plus the edge contracts: empty payload → one
    zero-sample window; digests match hand-computed slices; 2-byte
    samples halve the sample count."""
    import hashlib

    from recommendation_translation_spark.operators.multimodal import (
        chunk_audio_windows,
    )

    payload = bytes(range(256)) * 40  # 10240 bytes
    media = spark.createDataFrame(
        [(1, payload), (2, b"")], "sample_id long, content binary"
    )
    rows = {
        (r.sample_id, r.window_idx): r
        for r in chunk_audio_windows(
            media, sample_rate=16_000, window_ms=400
        ).collect()
    }
    # 10240 samples / 6400 per window = 2 windows
    assert {k for k in rows} == {(1, 0), (1, 1), (2, 0)}
    assert rows[(1, 0)].n_in_window == 6400 and rows[(1, 1)].n_in_window == 3840
    assert rows[(1, 0)].start_ms == 0 and rows[(1, 0)].end_ms == 400
    assert rows[(1, 1)].end_ms == 10240 * 1000 // 16000
    assert rows[(1, 0)].window_md5 == hashlib.md5(payload[:6400]).hexdigest()
    assert rows[(1, 1)].window_md5 == hashlib.md5(payload[6400:]).hexdigest()
    assert rows[(2, 0)].n_in_window == 0 and rows[(2, 0)].end_ms == 0
    # s16le: 2 bytes per sample → 5120 samples → one window
    two = chunk_audio_windows(
        media.filter("sample_id = 1"), bytes_per_sample=2
    ).collect()
    assert len(two) == 1 and two[0].n_in_window == 5120


def test_pagerank_integer_invariants(spark):
    """Symmetric 2-cycle → equal ranks; in a 3-node graph where node 2
    has no inbound edges it keeps teleport mass only (strictly minimal)
    — robust at ANY iteration count, unlike orderings along the 1↔3
    cycle, which oscillate at amplitude 0.85^k; total rank mass stays
    within integer-truncation slack of the scale."""
    from recommendation_translation_spark.operators.graph import pagerank_integer

    sym = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1)], "src long, dst long, w long"
    )
    r = {x.node: x.rank_int for x in pagerank_integer(sym, n_iter=4).collect()}
    assert r[1] == r[2]
    assert abs(sum(r.values()) - 10**12) < 1000  # truncation slack only

    # everything points at 3; 3 cycles back to 1 (no dangling nodes)
    hub = spark.createDataFrame(
        [(1, 3, 1), (2, 3, 1), (3, 1, 1)], "src long, dst long, w long"
    )
    h = {x.node: x.rank_int for x in pagerank_integer(hub, n_iter=6).collect()}
    assert h[1] > h[2] and h[3] > h[2]
    assert h[2] == (15 * (10**12 // 3)) // 100  # teleport term exactly


def test_doc_array_funcs_blank_and_empty_docs(spark, tmp_path):
    # round-2 ADVICE: DuckDB list_sum([]) is NULL vs Spark fold-to-0, and
    # string_split_regex('') yields [''] vs tokens() []; latent while the
    # testdata has no blank docs — pin the parity on a corpus that does.
    import duckdb

    from recommendation_translation_spark.queries import ORACLES, QUERIES
    from tests.oracle_utils import compare

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\t\n"), (4, "one two three"), (5, "x")],
        "doc_id long, text string",
    )
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    ok, msg = compare(
        QUERIES["doc_array_funcs"](spark, sf_dir),
        con.sql(ORACLES["doc_array_funcs"]),
    )
    assert ok, msg


def test_best_decoder_selects_available_path(spark):
    # best_decoder always picks a REAL tier: PIL full decode when
    # importable, the container-header parser otherwise — and the
    # chosen decoder recovers true dimensions from genuine PNG media
    # end-to-end through the mapInPandas plumbing.
    from recommendation_translation_spark.operators.multimodal import (
        attach_png_media,
        best_decoder,
        decode_image_meta,
        header_decode_image,
        real_decode_image,
    )

    dec = best_decoder()
    try:
        import PIL  # noqa: F401

        assert dec is real_decode_image
    except ImportError:
        assert dec is header_decode_image

    docs = spark.createDataFrame([(5, "x"), (130, "y")], "doc_id long, text string")
    out = {r.sample_id: r for r in
           decode_image_meta(attach_png_media(docs), decoder=dec).collect()}
    # width = 1 + id%64, height = 1 + (id//64)%64 by construction
    assert (out[5].width, out[5].height, out[5].mode) == (6, 1, "L")
    assert (out[130].width, out[130].height) == (3, 3)


# ---------------------------------------------------------------------------
# CDC snapshot diff (operators/cdc.py)
# ---------------------------------------------------------------------------


def test_snapshot_diff_classifies_and_is_null_safe(spark):
    from recommendation_translation_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, 40.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 33.0), (5, 50.0)], "k long, v double"
    )
    rows = {r.k: r for r in snapshot_diff(old, new, ["k"]).collect()}
    # 1 unchanged (absent), 2 null==null unchanged (absent, null-safe),
    # 3 updated, 4 deleted, 5 inserted
    assert set(rows) == {3, 4, 5}
    assert rows[3].action == "update" and rows[3].old_v == 30.0 and rows[3].new_v == 33.0
    assert rows[4].action == "delete" and rows[4].new_v is None
    assert rows[5].action == "insert" and rows[5].old_v is None


def test_snapshot_diff_null_transition_is_update(spark):
    from recommendation_translation_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame([(1, None)], "k long, v double")
    new = spark.createDataFrame([(1, 1.0)], "k long, v double")
    [r] = snapshot_diff(old, new, ["k"]).collect()
    assert r.action == "update"


def test_snapshot_diff_requires_keys(spark):
    import pytest as _pytest
    from recommendation_translation_spark.operators.cdc import snapshot_diff

    df = spark.range(1)
    with _pytest.raises(ValueError):
        snapshot_diff(df, df, [])


def test_bloom_decontaminate_semantics(spark):
    from pyspark.sql import functions as F

    from recommendation_translation_spark.operators.curation import (
        _km_positions,
        bloom_decontaminate,
    )

    # Hand-built corpus: train doc 1 shares its 8-gram run with test
    # doc 10; train doc 2 is clean; train doc 3 is too short to gram.
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, shared + " iota kappa", "train"),
            (2, "one two three four five six seven eight nine", "train"),
            (3, "too short", "train"),
            (10, "prefix words " + shared, "test"),
        ],
        "doc_id long, text string, split string",
    )
    rows = {r.doc_id: r for r in bloom_decontaminate(docs, n=8).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].exact_hit and rows[1].bloom_hit  # no false negative
    assert not rows[2].exact_hit  # bloom MAY false-positive; exact not
    assert rows[3].n_grams == 0 and not rows[3].exact_hit
    assert all(r.no_false_negative for r in rows.values())

    # KM positions: k pairwise-distinct values in [0, m) for every gram
    # (h2 odd => invertible mod the power-of-two m).
    m, k = 1 << 18, 5
    pos = (
        spark.range(1000)
        .select(
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            .alias("g")
        )
        .select(_km_positions(F.col("g"), m, k).alias("p"))
        .select(
            F.size(F.array_distinct("p")).alias("nd"),
            F.array_min("p").alias("lo"),
            F.array_max("p").alias("hi"),
        )
        .agg(
            F.min("nd").alias("min_nd"),
            F.min("lo").alias("min_lo"),
            F.max("hi").alias("max_hi"),
        )
        .collect()[0]
    )
    assert pos.min_nd == k
    assert pos.min_lo >= 0 and pos.max_hi < m


def test_ngram_rep_edges_star_shape(spark):
    """A K-clone duplicate group yields K-1 star edges (linear), where
    the pairwise join yields K(K-1)/2 — and keep-best-per-cluster keeps
    exactly one member."""
    from pyspark.sql import functions as F

    from recommendation_translation_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_rep_edges,
    )

    k = 12
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, text) for i in range(k)] + [
        (100, "completely different words about sparkling analytics engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    star = ngram_rep_edges(df, n=3, threshold=0.5).collect()
    assert len(star) == k - 1
    assert {(r["a_id"]) for r in star} == {0}
    assert all(r["jaccard"] == 1.0 for r in star)
    pairs = ngram_jaccard_pairs(df, n=3, threshold=0.5)
    assert pairs.count() == k * (k - 1) // 2
    clusters = dup_clusters(
        spark.createDataFrame(
            [(r["a_id"], r["b_id"]) for r in star], "a_id long, b_id long"
        )
    )
    got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got == {i: 0 for i in range(k)}


def test_real_decoder_contract():
    """Round-6 verdict #7: pin which decoder actually runs.  Pillow
    cannot be installed here (no pip), so the real tier below PIL is
    ``header_decode_image`` — a genuine container parser — and
    ``best_decoder`` must select a REAL tier on every environment,
    never the digest stand-in.  With PIL the full-decode path is
    additionally exercised on an actual image."""
    import pytest

    from recommendation_translation_spark.operators.multimodal import (
        best_decoder,
        fake_decode_image,
        header_decode_image,
        real_decode_image,
    )

    try:
        import PIL  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False

    chosen = best_decoder()
    assert chosen is not fake_decode_image
    if have_pil:
        assert chosen is real_decode_image
        # minimal valid 1x1 red PNG
        png = bytes.fromhex(
            "89504e470d0a1a0a0000000d4948445200000001000000010802000000"
            "907753de0000000c49444154789c62f80f0400000500"
            "01a5f645400000000049454e44ae426082"
        )
        w, h, mode = real_decode_image(png)
        assert (w, h) == (1, 1) and mode in ("RGB", "RGBA", "P")
    else:
        assert chosen is header_decode_image
        with pytest.raises(NotImplementedError):
            real_decode_image(b"not-an-image")


def test_header_decoder_parses_real_containers():
    """header_decode_image reads true dimensions from each container's
    actual byte structure — PNG IHDR, JPEG SOFn behind a marker walk,
    GIF screen descriptor, BMP info header (negative = top-down) — and
    rejects non-image bytes instead of inventing dimensions."""
    import struct

    import pytest

    from recommendation_translation_spark.operators.multimodal import (
        header_decode_image,
    )

    jpeg = (
        b"\xff\xd8"  # SOI
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 2
    )
    assert header_decode_image(jpeg) == (640, 480, "RGB")
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 3
    assert header_decode_image(gif) == (320, 200, "P")
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 800, -600) + b"\x00" * 20
    assert header_decode_image(bmp) == (800, 600, "RGB")
    with pytest.raises(ValueError):
        header_decode_image(b"hello world, definitely text")


def test_header_decoder_raises_valueerror_on_truncation():
    """A recognized magic with a TRUNCATED header must still raise the
    documented ValueError, not struct.error/IndexError — callers route
    bad media on ValueError."""
    import struct

    import pytest

    from recommendation_translation_spark.operators.multimodal import (
        header_decode_image,
    )

    cases = [
        b"\x89PNG\r\n\x1a\nXXXXIHDR" + b"\x00" * 6,   # PNG cut inside IHDR
        b"\x89PNG\r\n\x1a\nXXXXIHDR" + b"\x00" * 9,   # PNG missing color type
        b"\xff\xd8\xff\xc0" + struct.pack(">H", 11) + b"\x08\x01",  # JPEG SOF cut
        b"GIF89a" + b"\x00" * 2,                        # GIF cut in descriptor
        b"BM" + b"\x00" * 10,                           # BMP cut in info header
    ]
    for payload in cases:
        with pytest.raises(ValueError):
            header_decode_image(payload)


def test_header_decoder_jpeg_fill_and_standalone_markers():
    """The JPEG marker walk must accept spec-valid streams the strict
    walk rejected (round-7 advisor): runs of 0xFF fill bytes before a
    marker, and length-LESS standalone markers (TEM 0x01, RST0-7)
    between segments — and still fail safe (ValueError, not invented
    dimensions) on an EOI with no SOF."""
    import struct

    import pytest

    from recommendation_translation_spark.operators.multimodal import (
        header_decode_image,
    )

    sof = (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 2
    )
    # fill bytes before both the APP0 and SOF markers
    filled = (
        b"\xff\xd8"
        + b"\xff\xff\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xff" + sof
    )
    assert header_decode_image(filled) == (640, 480, "RGB")
    # TEM and RST4 standalone markers between SOI and SOF
    standalone = b"\xff\xd8" + b"\xff\x01" + b"\xff\xd4" + sof
    assert header_decode_image(standalone) == (640, 480, "RGB")
    # EOI before any SOF: reject, don't walk past the end
    with pytest.raises(ValueError):
        header_decode_image(b"\xff\xd8\xff\x01\xff\xd9")


def test_interleave_rejects_weights_beyond_scale(spark):
    """Weights above SCALE (720720) would collapse consecutive
    per-source positions onto one vpos and silently break the
    closed-form mix_rank's strictly-increasing premise — the operator
    must reject them up front."""
    import pytest

    from recommendation_translation_spark.operators.curation import (
        interleave_sources,
    )

    df = spark.createDataFrame([(1, "a")], "doc_id long, src string")
    with pytest.raises(ValueError, match="720720"):
        interleave_sources(df, "src", {"a": 1_000_000})


def test_interleave_non_divisor_weights_equal_global_window(spark):
    """Non-divisor weights (17, 100) must produce EXACTLY the global
    (vpos, source, id) window order — they take the range-partitioned
    fallback (round-8 review restored them; the closed form needs
    divisor steps, the general form needs the overflow-prone
    vpos*weight product).  A divisor config run through the same
    comparison pins the closed form to the identical definition."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from recommendation_translation_spark.operators.curation import (
        interleave_sources,
    )

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    for weights in ({"a": 17, "b": 100, "c": 3}, {"a": 4, "b": 16, "c": 1}):
        out = interleave_sources(df, "src", weights)
        w = Window.orderBy("vpos", "src", "doc_id")
        expect = out.select(
            "doc_id", F.row_number().over(w).alias("want"), "mix_rank"
        )
        bad = expect.filter(F.col("want") != F.col("mix_rank")).count()
        assert bad == 0, f"{weights}: {bad} mismatches"
    # the boundary itself is legal: weight == SCALE keeps per-source
    # positions strictly increasing (positions are exactly 0,1,2,...)
    df3 = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, src string"
    )
    ranks = sorted(
        r.mix_rank
        for r in interleave_sources(df3, "src", {"a": 720720, "b": 1}).collect()
    )
    assert ranks == [1, 2, 3]


def test_encode_png_is_well_formed_and_round_trips():
    """encode_png emits spec-valid PNGs: every chunk CRC verifies, the
    IDAT inflates to exactly height*(1+width) filter-0 scanline bytes,
    and the header parser recovers the encoded dimensions — provable
    without any image library.  Pixel bytes follow the documented
    (seed + 31*y + x) mod 256 law."""
    import struct
    import zlib

    from recommendation_translation_spark.operators.multimodal import (
        encode_png,
        header_decode_image,
    )

    for (w, h, s) in [(1, 1, 0), (64, 64, 255), (17, 3, 7), (640, 480, 42)]:
        png = encode_png(w, h, seed=s)
        assert header_decode_image(png) == (w, h, "L")
        i, idat = 8, b""
        while i < len(png):
            ln = struct.unpack(">I", png[i : i + 4])[0]
            tag, body = png[i + 4 : i + 8], png[i + 8 : i + 8 + ln]
            crc = struct.unpack(">I", png[i + 8 + ln : i + 12 + ln])[0]
            assert zlib.crc32(tag + body) & 0xFFFFFFFF == crc
            if tag == b"IDAT":
                idat += body
            i += 12 + ln
    raw = zlib.decompress(idat)
    assert len(raw) == 480 * (1 + 640)
    # scanline 2 of the last image: filter byte then the pixel law
    row = raw[2 * 641 : 3 * 641]
    assert row[0] == 0 and row[1] == (42 + 31 * 2) & 0xFF


def test_simhash_clusters_collapsed_equals_direct(spark):
    """simhash_clusters_collapsed must return EXACTLY
    dup_clusters(simhash_pairs(docs)) — the exact-dup collapse is a
    pure execution-shape change (round-8 sf3 cliff fix: the direct
    composition's verified pair set grows ∝ clone-group², 69.9M pairs
    at sf3).  Checked on the real corpus AND on a clone-heavy tiling
    of it (every text duplicated under fresh ids — the regime where
    the two shapes' costs diverge and where a mapping bug would drop
    twin groups whose rep has no rep-level pair)."""
    from pyspark.sql import functions as F

    from recommendation_translation_spark.operators.curation import dup_clusters
    from recommendation_translation_spark.operators.dedup import (
        simhash_clusters_collapsed,
        simhash_pairs,
    )

    from .conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    tiled = docs.union(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    # zero-token exact duplicates (empty text): simhash emits no
    # signature for them, so the direct path can never pair them —
    # the collapse's twin rule must not invent clusters for them
    # (round-8 review).  The one-token "..!!" twins are the control:
    # signature-eligible exact dups must still cluster in both paths.
    degenerate = docs.union(
        spark.createDataFrame(
            [(2_000_000, ""), (2_000_001, ""), (2_000_002, "..!!"),
             (2_000_003, "..!!")],
            "doc_id long, text string",
        )
    )
    for corpus in (docs, tiled, degenerate):
        a = sorted(
            map(tuple, dup_clusters(simhash_pairs(corpus, max_hamming=2)).collect())
        )
        b = sorted(
            map(tuple, simhash_clusters_collapsed(corpus, max_hamming=2).collect())
        )
        assert a == b
        if corpus is degenerate:
            ids = {r[0] for r in b}
            assert 2_000_000 not in ids and 2_000_001 not in ids
            assert 2_000_002 in ids and 2_000_003 in ids


def test_minhash_bands_rowlocal_equals_batch(spark):
    """minhash_bands_rowlocal must emit EXACTLY minhash_bands' (id,
    band, band_hash) rows — it exists so the streaming dedup gate can
    band documents without the batch path's groupBy (a streaming
    aggregation, refused in append mode), and the stream-static
    candidate join is only correct if both sides' band digests come
    from the same signature values.  Checked on the real corpus and
    on a short-doc edge frame (docs under n tokens must vanish from
    BOTH paths)."""
    from recommendation_translation_spark.operators.dedup import (
        minhash_bands,
        minhash_bands_rowlocal,
    )

    from .conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    for frame in (
        docs,
        spark.createDataFrame(
            [(1, "one two"), (2, ""), (3, "alpha beta gamma delta")],
            "doc_id long, text string",
        ),
    ):
        a = sorted(
            map(tuple, minhash_bands(frame, k=16, bands=8, n=3).collect())
        )
        b = sorted(
            map(tuple, minhash_bands_rowlocal(frame, k=16, bands=8, n=3).collect())
        )
        assert a == b
        if frame is not docs:
            # the two short docs produced no bands at all
            assert {r[0] for r in a} == {3}


def _sf_distributions():
    import pytest

    from .conftest import SF_ORACLE, SF_SMALL

    return pytest.mark.parametrize(
        "sf_dir", [SF_SMALL, SF_ORACLE, "/root/testdata/sf0.1"]
    )


@_sf_distributions()
def test_shard_append_composes_into_gapless_layout(spark, sf_dir):
    # base manifest (doc_id % 10 != 0) + appended batch rows must form
    # ONE consistent shard layout: per shard, positions are 1..n with
    # no gap or overlap, every appended row lands strictly after the
    # base tail, and offset(p) is exactly the token sum of positions
    # < p — the invariant the append contract ("never reshuffle the
    # base") exists to preserve.  Parameterized over all three local
    # distributions (round-10 verdict #7): a distribution-sensitive
    # ordering bug — md5 order-key ties, empty shards, skewed token
    # lengths — must not hide behind one dataset shape.
    from pyspark.sql import functions as F

    from recommendation_translation_spark.catalog.core import _t
    from recommendation_translation_spark.catalog.corpus import (
        _shard_keys_frame,
        _shard_manifest_frame,
    )
    from recommendation_translation_spark.queries import QUERIES

    docs = _t(spark, sf_dir, "documents")
    keys = _shard_keys_frame(docs)
    base = _shard_manifest_frame(
        keys.filter(F.col("doc_id") % 10 != 0)
    ).collect()
    appended = QUERIES["corpus_shard_append"](spark, sf_dir).collect()

    base_max = {}
    for r in base:
        base_max[r.shard] = max(base_max.get(r.shard, 0), r.pos)
    for r in appended:
        assert r.pos > base_max.get(r.shard, 0), (
            f"appended pos {r.pos} not after base tail in shard {r.shard}"
        )

    by_shard: dict[int, list] = {}
    for r in list(base) + list(appended):
        by_shard.setdefault(r.shard, []).append(r)
    assert sum(len(v) for v in by_shard.values()) == docs.count()
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.pos)
        run = 0
        for i, r in enumerate(rows, start=1):
            assert r.pos == i, f"gap/overlap at shard {shard} pos {r.pos} != {i}"
            assert r.offset_tokens == run, (
                f"offset mismatch at shard {shard} pos {i}"
            )
            run += r.n_tokens
