"""Scale behavior of the adaptive embedding-LSH pair generator
(round-6 verdict #2): bucket width must grow with the corpus so the
within-bucket candidate volume is O(N · TARGET_BUCKET_ROWS), not the
O(N²/2^const) a fixed bit width degrades to at 100× data."""

from __future__ import annotations

from pyspark.sql import functions as F

from recommendation_translation_spark.operators.similarity import (
    MAX_LSH_BITS,
    N_LSH_TABLES,
    TARGET_BUCKET_ROWS,
    adaptive_n_bits,
    embedding_cosine_pairs,
)


def test_adaptive_n_bits_formula():
    t = TARGET_BUCKET_ROWS
    assert adaptive_n_bits(0) == 1
    assert adaptive_n_bits(t) == 1
    assert adaptive_n_bits(4 * t) == 2
    assert adaptive_n_bits(8 * t - 1) == 2
    assert adaptive_n_bits(8 * t) == 3
    assert adaptive_n_bits(t << MAX_LSH_BITS) == MAX_LSH_BITS
    # capped: a 100 TB corpus doesn't overflow the bit budget
    assert adaptive_n_bits(10**12) == MAX_LSH_BITS
    # monotone non-decreasing in n
    widths = [adaptive_n_bits(n) for n in range(0, 65536, 997)]
    assert widths == sorted(widths)


def _synthetic_emb(spark, n: int, dim: int):
    """Deterministic pseudo-random unit-ish vectors, pure JVM exprs."""
    comps = [
        (
            (F.pmod(F.xxhash64(F.col("vec_id") * 31 + j), F.lit(2001)) - 1000)
            / 1000.0
        ).cast("double")
        for j in range(dim)
    ]
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("embedding")
    )


def test_candidate_volume_grows_linearly(spark):
    """Doubling the corpus twice (4×) must grow the candidate-pair set
    ~linearly: with adaptive widths the ratio stays well under the 16×
    a fixed-width bucket space would produce (linear → ~4×)."""
    dim = 8
    counts = {}
    for n in (2048, 8192):
        emb = _synthetic_emb(spark, n, dim)
        # threshold below -1 keeps EVERY verified candidate: the output
        # count IS the (table-deduped) candidate volume
        pairs = embedding_cosine_pairs(emb, threshold=-1.1, dim=dim)
        counts[n] = pairs.count()
        # absolute bound: balanced buckets give ~N·target/2 candidates
        # per table; allow 4× slack for bucket skew on hashed vectors
        assert counts[n] <= 4 * n * TARGET_BUCKET_ROWS * N_LSH_TABLES, (
            n,
            counts[n],
        )
    ratio = counts[8192] / max(counts[2048], 1)
    assert ratio < 8.0, counts


def test_dedup_emb_cosine_plan_build_runs_no_count_job(spark):
    """Building the dedup_emb_cosine plan must launch no Spark job
    beyond the parquet scan construction itself (round-7 verdict watch
    item): the adaptive bit width is sized from parquet FOOTER
    metadata (table stats), not a blocking emb.count() at every plan
    construction.  ``spark.read.parquet`` runs one tiny driver footer/
    schema job per read — inherent to scan construction — so the
    contract asserted is Δjobs(full plan build) == Δjobs(bare read):
    the operator itself contributes ZERO jobs (the old default ran a
    full count(), one extra job, which this test would catch)."""
    from recommendation_translation_spark.catalog.embeddings import q_dedup_emb_cosine
    from recommendation_translation_spark.sources.readers import table_row_count

    from .conftest import SF_SMALL

    sc = spark.sparkContext
    sc.setJobGroup("planbuild_bare_read", "scan construction only")
    try:
        bare = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    finally:
        sc.setJobGroup(None, None)
    sc.setJobGroup("planbuild_dedup_emb", "full plan construction")
    try:
        df = q_dedup_emb_cosine(spark, SF_SMALL)
    finally:
        sc.setJobGroup(None, None)
    n_bare = len(sc.statusTracker().getJobIdsForGroup("planbuild_bare_read"))
    n_full = len(sc.statusTracker().getJobIdsForGroup("planbuild_dedup_emb"))
    assert n_full <= n_bare, (
        f"plan build ran {n_full - n_bare} job(s) beyond scan "
        "construction — a count() crept back into the operator"
    )
    assert df.columns == ["a_id", "b_id", "cosine"]
    # and the metadata count matches what a scan would report
    assert table_row_count(SF_SMALL, "embeddings") == bare.count()
