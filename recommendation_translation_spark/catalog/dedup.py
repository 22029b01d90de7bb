"""Dedup: exact, n-gram Jaccard, MinHash-LSH and SimHash near-duplicate
detection over ``documents``, connected-component clustering, the
incremental and streaming dedup gates, duplicate-span measurement, and
edit-distance fuzzy pairs over supplier names.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import (
    duplicate_span_removal,
    duplicate_span_removal_maximal,
    duplicate_span_stats,
    hash_split,
)
from ..operators.dedup import (
    dedup_exact,
    fuzzy_pairs_ed1,
    incremental_dedup_flags,
    minhash_bands,
    minhash_lsh_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_clusters_collapsed,
    simhash_pairs,
    verify_batch_candidates,
)
from ..sources.readers import AUDIT_SAMPLE_TARGET, audit_sample_modulus, collapse_dial
from ..sources.writers import write_parquet
from ..streaming.events_stream import run_stream_to_memory, stream_docs_dedup_gate
from .core import _t
from .sources import _run_dir
from .text import _NORM, _TOKS, _hash_sql

ORACLES: dict[str, str] = {}


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(_t(spark, sf_dir, "documents"))


ORACLES["dedup_exact"] = f"""
        SELECT md5({_NORM}) AS fp_md5,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_dups
        FROM documents GROUP BY 1
    """


def _audit_sample_cte(src: str = "embeddings", id_col: str = "vec_id") -> str:
    """The oracle-side twin of :func:`_audit_sample_modulus`: a CTE
    body selecting the deterministic audit sub-corpus."""
    return (
        f"SELECT * FROM {src} WHERE {id_col} % (SELECT GREATEST(CAST("
        f"CEIL(COUNT(*) / {AUDIT_SAMPLE_TARGET}.0) AS BIGINT), 1) "
        f"FROM {src}) = 0"
    )


def q_supplier_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join (operators.dedup.fuzzy_pairs_ed1):
    all supplier-name pairs within Levenshtein distance 1, via the
    SymSpell deletion-neighborhood equi-join — complete at distance ≤1
    by the deletion-variant argument, candidates verified with exact
    levenshtein on both engines, never an all-pairs scan."""

    sup = _t(spark, sf_dir, "supplier")
    return fuzzy_pairs_ed1(sup, text_col="s_name", id_col="s_suppkey")


ORACLES["supplier_fuzzy_pairs"] = """
    WITH s AS (SELECT s_suppkey AS fid, s_name AS fname FROM supplier),
    var AS (
      SELECT DISTINCT fid, fname,
             CASE WHEN i = 0 THEN fname
                  ELSE substr(fname, 1, i - 1) || substr(fname, i + 1) END AS v
      FROM s, LATERAL (SELECT unnest(range(0, length(fname) + 1)) AS i) t),
    cand AS (
      SELECT DISTINCT a.fid AS a_id, b.fid AS b_id,
             a.fname AS a_name, b.fname AS b_name
      FROM var a JOIN var b ON a.v = b.v AND a.fid < b.fid)
    SELECT a_id, b_id, CAST(levenshtein(a_name, b_name) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(a_name, b_name) <= 1
"""

_SHINGLES_SQL = f"""
    SELECT DISTINCT doc_id,
           concat_ws(' ', w[i], w[i + 1], w[i + 2]) AS shingle
    FROM (SELECT doc_id, {_TOKS} AS w FROM documents),
         LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) t
    WHERE len(w) >= 3
"""


def _minhash_sigs_sql(k: int = 16) -> str:
    # Kirsch-Mitzenmacher permutations from ONE md5 per shingle —
    # mirrors operators.dedup.minhash_signatures exactly (same digest
    # slices, same affine combine, same modulus)
    x1 = "('0x' || substr(d, 1, 8))::BIGINT"
    x2 = "('0x' || substr(d, 9, 8))::BIGINT"
    aggs = ", ".join(
        f"MIN(({x1} + {i} * {x2}) % 4294967291) AS sig_{i}" for i in range(k)
    )
    return (
        f"SELECT doc_id, {aggs} FROM ("
        f"SELECT doc_id, md5(concat('mh:', shingle)) AS d FROM ({_SHINGLES_SQL})"
        f") GROUP BY doc_id"
    )


def _minhash_stacked_sql(k: int = 16, bands: int = 8) -> str:
    """Shared CTE prefix: sigs → banded → stacked (doc_id, band,
    band_hash).  Band digests are md5 strings here vs xxhash64 longs in
    Spark — different VALUES, identical GROUPING, which is all the
    pair join and the bucket histogram depend on."""
    rows = k // bands
    band_exprs = ", ".join(
        "md5(concat_ws('_', {})) AS band_{}".format(
            ", ".join(f"CAST(sig_{bi * rows + j} AS VARCHAR)" for j in range(rows)), bi
        )
        for bi in range(bands)
    )
    stack_union = " UNION ALL ".join(
        f"SELECT doc_id, '{bi}' AS band, band_{bi} AS band_hash FROM banded"
        for bi in range(bands)
    )
    return f"""sigs AS ({_minhash_sigs_sql(k)}),
        banded AS (SELECT doc_id, {band_exprs} FROM sigs),
        stacked AS ({stack_union})"""


def _minhash_lsh_sql(k: int = 16, bands: int = 8, threshold: float = 0.02) -> str:
    return f"""
        WITH {_minhash_stacked_sql(k, bands)},
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM stacked a JOIN stacked b
            ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
        ),
        sh AS ({_SHINGLES_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.a_id
          JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
          GROUP BY c.a_id, c.b_id
        )
        SELECT i.a_id, i.b_id,
               ROUND(n_inter / (na.n_sh + nb.n_sh - n_inter)::DOUBLE, 6) AS jaccard
        FROM inter i
        JOIN sizes na ON na.doc_id = i.a_id
        JOIN sizes nb ON nb.doc_id = i.b_id
        WHERE ROUND(n_inter / (na.n_sh + nb.n_sh - n_inter)::DOUBLE, 6) >= {threshold}
    """


def _simhash_sql(bits: int = 32) -> str:
    # bits 0..31 come from hex chars 1-8 of the md5, bits 32..63 from
    # chars 9-16 (operators.text.cross_engine_hash / _hi); bit 63 is
    # the long's sign bit, so its weight is the signed value −2⁶³
    h_lo = _hash_sql("tok", seed="sh")
    h_hi = "('0x' || substr(md5(concat('sh:', tok)), 9, 8))::BIGINT"
    votes = ", ".join(
        "CAST(SUM(CASE WHEN ({h} >> {s}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT)"
        " AS v_{b}".format(h=h_lo if b < 32 else h_hi, s=b % 32, b=b)
        for b in range(bits)
    )
    sim = " + ".join(
        "CASE WHEN v_{b} > 0 THEN {w} ELSE CAST(0 AS BIGINT) END".format(
            b=b,
            w="(-9223372036854775807 - 1)" if b == 63 else f"CAST({2 ** b} AS BIGINT)",
        )
        for b in range(bits)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ),
        votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id)
        SELECT doc_id, ({sim}) AS simhash FROM votes
    """


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.05,
        # footer gate (round 12): the pairwise audit's COMPUTE runs at
        # the distinct-text level on big corpora; output unchanged
        collapse_distinct=collapse_dial(spark, sf_dir),
    )


ORACLES["dedup_ngram_jaccard"] = f"""
        WITH sh0 AS ({_SHINGLES_SQL}),
        freq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
        sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
               JOIN freq ON sh0.shingle = freq.shingle WHERE freq.df <= 1000),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT a_id, b_id,
               ROUND(n_inter / (na.n_sh + nb.n_sh - n_inter)::DOUBLE, 6) AS jaccard
        FROM inter
        JOIN sizes na ON na.doc_id = a_id
        JOIN sizes nb ON nb.doc_id = b_id
        WHERE ROUND(n_inter / (na.n_sh + nb.n_sh - n_inter)::DOUBLE, 6) >= 0.05
    """


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), k=16, bands=8, n=3, threshold=0.02
    )


ORACLES["dedup_minhash_lsh"] = _minhash_lsh_sql(k=16, bands=8, threshold=0.02)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_t(spark, sf_dir, "documents"))


ORACLES["dedup_simhash"] = _simhash_sql()


def _simhash_pair_rows(spark: SparkSession, sf_dir: str, bits: int) -> DataFrame:
    """ALL pairs within hamming ≤ 3 of the ``bits``-bit simhash, via
    complete multi-block banding (operators.dedup.simhash_pairs)."""
    return simhash_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=3, bits=bits
    ).select("a_id", "b_id", F.col("hamming").cast("long").alias("hamming"))


def _simhash_pairs_sql(bits: int) -> str:
    """The brute-force all-pairs scan: parity with it *proves* the
    banding loses no pairs."""
    return f"""
        WITH s AS ({_simhash_sql(bits=bits)})
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL pairs within hamming ≤ 3 of the 32-bit simhash; the oracle
    is the brute-force all-pairs scan."""
    return _simhash_pair_rows(spark, sf_dir, bits=32)


ORACLES["dedup_simhash_pairs"] = _simhash_pairs_sql(bits=32)


def q_dedup_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64-bit signature variant — the 100 TB default (round-3
    verdict #5): twice the hamming resolution and ~26-bit two-block
    band keys at k=3, so LSH buckets stay sparse as the corpus grows
    where the 32-bit keys would go hot.  Same complete Manku banding;
    the oracle is again the brute-force all-pairs scan, proving zero
    recall loss for the widened signature too."""
    return _simhash_pair_rows(spark, sf_dir, bits=64)


ORACLES["dedup_simhash64_pairs"] = _simhash_pairs_sql(bits=64)


def q_dedup_band_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-size distribution (bucket_size → n_buckets) for the
    MinHash banding — the skew diagnostic for dedup planning, the
    companion of lineitem_skew_profile for joins: a candidate join on
    (band, band_hash) emits C(size, 2) pairs per bucket, so one hot
    bucket of 10⁵ docs is 5·10⁹ pairs.  Run this BEFORE the pair join
    at a new scale to size k/bands (wider bands → smaller buckets).
    Costs the signature pass (shared with the LSH pipeline) plus two
    hash aggregates — crucially, NO pair join: the diagnostic never
    risks the blowup it measures."""
    stacked = minhash_bands(_t(spark, sf_dir, "documents"), k=16, bands=8)
    sizes = stacked.groupBy("band", "band_hash").agg(
        F.count("*").alias("bucket_size")
    )
    return (
        sizes.groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .select(F.col("bucket_size").cast("long").alias("bucket_size"), "n_buckets")
    )


ORACLES["dedup_band_histogram"] = f"""
        WITH {_minhash_stacked_sql(16, 8)},
        sizes AS (
          SELECT band, band_hash, CAST(COUNT(*) AS BIGINT) AS bucket_size
          FROM stacked GROUP BY 1, 2
        )
        SELECT bucket_size, COUNT(*) AS n_buckets
        FROM sizes GROUP BY 1
    """


def q_dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs with the document-frequency skew
    cap ACTIVE (max_doc_freq=50): shingles in more than 50 documents
    are dropped before the inverted-index self-join — the guard that
    bounds the worst bucket at corpus scale (a stopword shingle in 10⁶
    docs would emit 10¹² join rows).  Sizes and intersections are
    computed AFTER the cap on both engines, so the oracle mirrors the
    exact capped relation."""

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.05, max_doc_freq=50,
        # same footer gate as dedup_ngram_jaccard (round 12)
        collapse_distinct=collapse_dial(spark, sf_dir),
    ).select("a_id", "b_id", "jaccard")


ORACLES["dedup_ngram_capped"] = """
    WITH sh0 AS ({shingles}),
    freq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
           JOIN freq ON sh0.shingle = freq.shingle WHERE freq.df <= 50),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT a_id, b_id,
           ROUND(n_inter / (na.n_sh + nb.n_sh - n_inter)::DOUBLE, 6) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = a_id
    JOIN sizes nb ON nb.doc_id = b_id
    WHERE ROUND(n_inter / (na.n_sh + nb.n_sh - n_inter)::DOUBLE, 6) >= 0.05
""".format(shingles=_SHINGLES_SQL)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over SimHash near-dup pairs → (doc_id,
    cluster_id).  The Spark side is iterative pointer jumping
    (operators/curation.py); the driver oracle is an exact DuckDB
    recursive-CTE transitive closure over the same pairs — min
    reachable id per member — so this is a full hash-checked row,
    plus a union-find property oracle in tests/.

    Round-8: runs through ``simhash_clusters_collapsed`` — exact-dup
    collapse (sha2 fingerprint → min-id rep), CC over distinct-text
    representatives, members mapped back — after the sf3 octave caught
    the direct composition's cliff (signatures are text-functional, so
    the verified pair set grew ∝ clone-group² — 69.9M pairs at sf3's
    K≈30; output proven identical, boundary in SCALE.md round 8)."""

    return simhash_clusters_collapsed(
        _t(spark, sf_dir, "documents"), max_hamming=2
    )


# Connected components ARE SQL-expressible after all: the transitive
# closure via a recursive CTE with UNION (distinct) terminates on the
# finite reachable-pair set, and min-over-reachable is the cluster id.
# O(Σ component²) pairs — fine at oracle scale (sf0.01), which is
# exactly why the SPARK side runs pointer jumping instead (the closure
# materializes every reachable pair; the CC loop never does).  This
# upgrades dedup_clusters from rows-only to hash-checked (the round-3
# verdict listed it as the weakest check in the dedup family).
ORACLES["dedup_clusters"] = f"""
    WITH RECURSIVE s AS ({_simhash_sql()}),
    p AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    e AS (SELECT a_id AS u, b_id AS v FROM p
          UNION SELECT b_id, a_id FROM p),
    r(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e.v FROM r JOIN e ON r.v = e.u
    )
    SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
    FROM r GROUP BY u
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (operators.dedup.incremental_dedup_flags):
    the deterministic hash split plays 'corpus' (buckets < 90, ~90%)
    vs 'new batch' (buckets ≥ 90, ~10%); each batch doc is flagged
    against the corpus and against earlier batch docs via MinHash-LSH
    candidates + exact-Jaccard verification (k=16, bands=8,
    threshold=0.02 — the same operating point as dedup_minhash_lsh).

    This is the 100 TB shape the one-shot pair queries can't serve:
    the corpus is never self-joined — it contributes its (precomputable)
    band table to the candidate join and only candidate docs' shingles
    to verification."""

    docs = hash_split(_t(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("split") != "test").select("doc_id", "text")
    batch = docs.filter(F.col("split") == "test").select("doc_id", "text")
    return incremental_dedup_flags(
        corpus, batch, k=16, bands=8, n=3, threshold=0.02
    )


ORACLES["dedup_incremental"] = f"""
    WITH {_minhash_stacked_sql(16, 8)},
    lab AS (
      SELECT doc_id,
             CASE WHEN {_hash_sql("CAST(doc_id AS VARCHAR)", seed="split")}
                       % 100 >= 90
                  THEN 'batch' ELSE 'corpus' END AS part
      FROM documents),
    st AS (SELECT s.doc_id, s.band, s.band_hash, lab.part
           FROM stacked s JOIN lab USING (doc_id)),
    cand AS (
      SELECT DISTINCT nw.doc_id AS new_id, old.doc_id AS old_id,
             old.part AS src
      FROM st nw JOIN st old
        ON nw.band = old.band AND nw.band_hash = old.band_hash
      WHERE nw.part = 'batch'
        AND (old.part = 'corpus'
             OR (old.part = 'batch' AND old.doc_id < nw.doc_id))),
    sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.new_id, c.old_id, c.src, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.new_id
      JOIN sh sb ON sb.doc_id = c.old_id AND sb.shingle = sa.shingle
      GROUP BY 1, 2, 3),
    ver AS (
      SELECT i.new_id, i.src
      FROM inter i
      JOIN sizes na ON na.doc_id = i.new_id
      JOIN sizes nb ON nb.doc_id = i.old_id
      WHERE ROUND(n_inter / (na.n_sh + nb.n_sh - n_inter)::DOUBLE, 6)
            >= 0.02),
    agg AS (
      SELECT new_id,
             SUM(CASE WHEN src = 'corpus' THEN 1 ELSE 0 END) AS n_dup_corpus,
             SUM(CASE WHEN src = 'batch' THEN 1 ELSE 0 END) AS n_dup_batch
      FROM ver GROUP BY 1)
    SELECT l.doc_id,
           CAST(COALESCE(a.n_dup_corpus, 0) AS BIGINT) AS n_dup_corpus,
           CAST(COALESCE(a.n_dup_batch, 0) AS BIGINT) AS n_dup_batch,
           COALESCE(a.n_dup_corpus, 0) + COALESCE(a.n_dup_batch, 0) = 0
             AS is_new
    FROM lab l LEFT JOIN agg a ON a.new_id = l.doc_id
    WHERE l.part = 'batch'
"""


def q_docs_stream_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup gate
    (streaming.events_stream.stream_docs_dedup_gate): the incoming
    'test'-split documents replay as a STREAM, MinHash-band against
    the static corpus band table in a left-outer stream-static join,
    and the one stateful operator (dropDuplicates on the pair) emits
    each (new doc, corpus candidate) once.  The drained pairs roll up
    per document in batch: (doc_id, n_cand_corpus, is_clean) — every
    batch doc present, clean ones with 0 (documents shorter than n
    tokens emit no bands in-stream and re-enter through the left join
    below, mirroring the oracle's all-batch-docs frame).  Same banding
    operating point as dedup_incremental (k=16, bands=8, n=3);
    candidates only, exact-Jaccard verification is the downstream
    batch job by design."""

    pairs = run_stream_to_memory(
        stream_docs_dedup_gate(spark, sf_dir), output_mode="append"
    )
    per_doc = pairs.groupBy("doc_id").agg(
        F.count("old_id").alias("n_hit")
    )
    all_batch = (
        hash_split(_t(spark, sf_dir, "documents"))
        .filter(F.col("split") == "test")
        .select("doc_id")
    )
    return (
        all_batch.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_cand_corpus"),
        )
        .withColumn("is_clean", F.col("n_cand_corpus") == 0)
    )


ORACLES["docs_stream_dedup_gate"] = f"""
    WITH {_minhash_stacked_sql(16, 8)},
    lab AS (
      SELECT doc_id,
             CASE WHEN {_hash_sql("CAST(doc_id AS VARCHAR)", seed="split")}
                       % 100 >= 90
                  THEN 'batch' ELSE 'corpus' END AS part
      FROM documents),
    st AS (SELECT s.doc_id, s.band, s.band_hash, lab.part
           FROM stacked s JOIN lab USING (doc_id)),
    cand AS (
      SELECT DISTINCT nw.doc_id AS doc_id, old.doc_id AS old_id
      FROM st nw JOIN st old
        ON nw.band = old.band AND nw.band_hash = old.band_hash
      WHERE nw.part = 'batch' AND old.part = 'corpus'),
    agg AS (SELECT doc_id, COUNT(*) AS n FROM cand GROUP BY 1)
    SELECT l.doc_id,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_cand_corpus,
           COALESCE(a.n, 0) = 0 AS is_clean
    FROM lab l LEFT JOIN agg a ON a.doc_id = l.doc_id
    WHERE l.part = 'batch'
"""


def q_docs_stream_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming dedup gate CLOSED INTO ONE ROW with its verifier
    (round-8 verdict #7): the gate's docstring used to defer
    exact-Jaccard verification to "the downstream batch job" — this IS
    that composition.  The stream half is byte-identical to
    docs_stream_dedup_gate (row-local MinHash banding, stream-static
    band join, one stateful dropDuplicates, append mode); the drained
    candidate pairs then flow through the batch verifier continuation:
    shingles are fetched for the batch plus ONLY the corpus docs the
    gate surfaced (left-semi pushdown — the verify stays proportional
    to the stream, the incremental_dedup_flags discipline), exact
    Jaccard ≥ 0.02 confirms or clears each pair, and every batch doc
    emits (doc_id, n_cand_corpus, n_dup_corpus, is_clean_verified).

    The oracle is dedup_incremental's verification relation RESTRICTED
    to the gate's candidates (batch×corpus band collisions — no
    batch×batch leg), so the hash covers the stream gate, the drain,
    the semi-join scoping, AND the verifier in one relation: a pair
    the gate dropped, a verification run against the wrong shingle
    sets, or a threshold drift all mismatch."""

    pairs = run_stream_to_memory(
        stream_docs_dedup_gate(spark, sf_dir), output_mode="append"
    )
    cand = pairs.filter(F.col("old_id").isNotNull()).select("doc_id", "old_id")
    docs = hash_split(_t(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("split") != "test").select("doc_id", "text")
    batch = docs.filter(F.col("split") == "test").select("doc_id", "text")
    verified = verify_batch_candidates(
        cand, batch, corpus, n=3, threshold=0.02, new_col="doc_id"
    )
    cagg = cand.groupBy("doc_id").agg(F.count("*").alias("n_cand_corpus"))
    vagg = verified.groupBy("doc_id").agg(F.count("*").alias("n_dup_corpus"))
    return (
        batch.select("doc_id")
        .join(cagg, "doc_id", "left")
        .join(vagg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_cand_corpus", F.lit(0)).cast("long").alias("n_cand_corpus"),
            F.coalesce("n_dup_corpus", F.lit(0)).cast("long").alias("n_dup_corpus"),
            (F.coalesce("n_dup_corpus", F.lit(0)) == 0).alias("is_clean_verified"),
        )
    )


# gate + verifier composition: dedup_incremental's verification
# relation RESTRICTED to the gate's candidates (batch x corpus band
# collisions only — the gate has no batch x batch leg)
ORACLES["docs_stream_dedup_verified"] = f"""
    WITH {_minhash_stacked_sql(16, 8)},
    lab AS (
      SELECT doc_id,
             CASE WHEN {_hash_sql("CAST(doc_id AS VARCHAR)", seed="split")}
                       % 100 >= 90
                  THEN 'batch' ELSE 'corpus' END AS part
      FROM documents),
    st AS (SELECT s.doc_id, s.band, s.band_hash, lab.part
           FROM stacked s JOIN lab USING (doc_id)),
    cand AS (
      SELECT DISTINCT nw.doc_id AS doc_id, old.doc_id AS old_id
      FROM st nw JOIN st old
        ON nw.band = old.band AND nw.band_hash = old.band_hash
      WHERE nw.part = 'batch' AND old.part = 'corpus'),
    sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_id, c.old_id, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_id
      JOIN sh sb ON sb.doc_id = c.old_id AND sb.shingle = sa.shingle
      GROUP BY 1, 2),
    ver AS (
      SELECT i.doc_id
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_id
      JOIN sizes nb ON nb.doc_id = i.old_id
      WHERE ROUND(n_inter / (na.n_sh + nb.n_sh - n_inter)::DOUBLE, 6)
            >= 0.02),
    cagg AS (SELECT doc_id, COUNT(*) AS n FROM cand GROUP BY 1),
    vagg AS (SELECT doc_id, COUNT(*) AS n FROM ver GROUP BY 1)
    SELECT l.doc_id,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_cand_corpus,
           CAST(COALESCE(v.n, 0) AS BIGINT) AS n_dup_corpus,
           COALESCE(v.n, 0) = 0 AS is_clean_verified
    FROM lab l
    LEFT JOIN cagg c ON c.doc_id = l.doc_id
    LEFT JOIN vagg v ON v.doc_id = l.doc_id
    WHERE l.part = 'batch'
"""


def q_dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED corpus band table — the
    index-build-then-reuse path q_dedup_incremental's docstring
    promises ("in production that table is computed once at ingest
    and stored").  BUILD shingles + bands the corpus ONCE and writes
    the narrow (doc_id, band, band_hash) relation through the parquet
    sink; SEARCH hands the read-back to incremental_dedup_flags, so
    the candidate join's corpus side is a 3-column parquet scan — the
    corpus TEXT is read only for the candidate-semi-joined Jaccard
    verification, proportional to the batch.  At 100 TB the band
    table is ~24 bytes/doc vs re-tokenizing every document per
    arriving batch.  Same split, operating point, output, and oracle
    as dedup_incremental, so a band table lost or mangled by the sink
    round-trip is a hash mismatch (plan-asserted in pytest: the band
    join's corpus side scans the persisted table, no text column)."""

    d = _run_dir("minhash_band_index", sf_dir)
    bands_path = os.path.join(d, "corpus_bands")
    docs = hash_split(_t(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("split") != "test").select("doc_id", "text")
    batch = docs.filter(F.col("split") == "test").select("doc_id", "text")
    # ---- BUILD: band the corpus once, persist the narrow table ----
    write_parquet(minhash_bands(corpus, k=16, bands=8, n=3), bands_path)
    # ---- SEARCH: candidates come from the persisted band table ----
    return incremental_dedup_flags(
        corpus, batch, k=16, bands=8, n=3, threshold=0.02,
        corpus_bands=spark.read.parquet(bands_path),
    )


ORACLES["dedup_incremental_persisted"] = ORACLES["dedup_incremental"]


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

    return _lsh_recall_report_frame(
        _t(spark, sf_dir, "documents"),
        collapse_truth=collapse_dial(spark, sf_dir),
    )


# `truth` mirrors ngram_jaccard_pairs (round-then-compare threshold),
# `cand` mirrors minhash_bands' band-collision join.
ORACLES["dedup_lsh_recall_report"] = f"""
    WITH {_minhash_stacked_sql(16, 8)},
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM stacked a JOIN stacked b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    sh AS ({{shingles}}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT a_id, b_id FROM inter
      JOIN sizes na ON na.doc_id = a_id
      JOIN sizes nb ON nb.doc_id = b_id
      WHERE ROUND(n_inter / (na.n_sh + nb.n_sh - n_inter)::DOUBLE, 6) >= 0.02),
    ver AS (SELECT c.a_id FROM cand c
            JOIN truth t ON c.a_id = t.a_id AND c.b_id = t.b_id)
    SELECT (SELECT COUNT(*) FROM truth) AS n_true,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM ver) AS n_verified,
           ROUND((SELECT COUNT(*) FROM ver)
                 / (SELECT COUNT(*) FROM truth)::DOUBLE, 6) AS recall,
           ROUND((SELECT COUNT(*) FROM ver)
                 / (SELECT COUNT(*) FROM cand)::DOUBLE, 6) AS cand_precision
""".format(shingles=_SHINGLES_SQL)


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

    s = audit_sample_modulus(sf_dir, "documents")
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % s == 0)
    return _lsh_recall_report_frame(docs)


# Sampled twin (round-11 verdict #4): the identical audit SQL over the
# deterministic ``doc_id % s`` sub-corpus, s recomputed from COUNT(*)
# (the oracle-side mirror of sources.readers.audit_sample_modulus) —
# at driver/bench SFs s = 1, so the hash gate covers the full
# mechanism and the sampled report equals the exact one bit-for-bit.
# Both "FROM documents" sites (the minhash signature CTE and the
# shingle truth CTE) must redirect, hence the textual rewrite of the
# exact report's SQL rather than a near-duplicate template.
ORACLES["dedup_lsh_recall_sampled"] = ORACLES[
    "dedup_lsh_recall_report"
].replace("FROM documents", "FROM doc_sample").replace(
    "WITH ",
    f"WITH doc_sample AS ({_audit_sample_cte('documents', 'doc_id')}),\n    ",
    1,
)


def q_doc_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate n-gram span fraction per document (the Lee et al. 2021
    'Deduplicating Training Data' / RefinedWeb-style filter): for every
    doc, the fraction of its distinct 8-gram spans that also appear in
    at least one OTHER document, plus a removal flag at 30%.

    Plan: one gram pass (operators.curation.doc_ngrams — codegen
    ``transform``/``slice`` grams pre-hashed to 60-bit longs, distinct
    per doc), materialized once with a lazy localCheckpoint because it
    feeds both sides; corpus document frequency is a groupBy on the
    8-byte gram key; the join back to per-doc rows is an equi-join on
    that same key (AQE decides the strategy — the df relation is
    SF-scaled, never force-broadcast).  The duplicated fraction is
    exact integer ppm (``n_dup*1_000_000 div n_grams``) and the flag
    compares cross-multiplied integers (``10*n_dup >= 3*n_grams``), so
    no double ever touches a decision boundary on either engine.
    At 100 TB this is two shuffles over 8-byte longs — the same
    posture as the contamination scan (ngram_contamination_split)."""

    return duplicate_span_stats(_t(spark, sf_dir, "documents"), n=8)


ORACLES["doc_dup_span_fraction"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    grams AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT AS gram
      FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) t
      WHERE len(w) >= 8),
    dfreq AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram),
    per AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_grams
      FROM grams g JOIN dfreq d ON g.gram = d.gram
      GROUP BY g.doc_id)
    SELECT doc_id, n_grams, n_dup_grams,
           CAST(n_dup_grams * 1000000 // n_grams AS BIGINT) AS dup_ppm,
           n_dup_grams * 10 >= n_grams * 3 AS flag_dup
    FROM per
"""


def q_doc_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal stage after doc_dup_span_fraction measures
    (operators.curation.duplicate_span_removal): every token inside a
    corpus-duplicated 8-gram is dropped and the SURVIVING TEXT ITSELF
    is hash-checked (clean_md5 of the space-joined kept tokens), so
    the oracle verifies the reconstruction byte-for-byte, not just the
    counts.  Span-coverage removal (both copies go) — the
    order-free variant that needs no global document precedence at
    100 TB; document text never shuffles, only (doc_id, start)
    pairs."""

    return duplicate_span_removal(_t(spark, sf_dir, "documents"), n=8)


ORACLES["doc_dup_span_removal"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    posgrams AS (
      SELECT doc_id, i AS start,
             ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT AS gram
      FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) t
      WHERE len(w) >= 8),
    dup AS (
      SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM posgrams)
      GROUP BY gram HAVING COUNT(*) >= 2),
    covered AS (
      SELECT DISTINCT doc_id, start FROM posgrams JOIN dup USING (gram)),
    positions AS (
      SELECT doc_id, j, w[j] AS tok
      FROM toks, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS j) t),
    kept AS (
      SELECT p.doc_id, p.j, p.tok
      FROM positions p
      WHERE NOT EXISTS (
        SELECT 1 FROM covered c
        WHERE c.doc_id = p.doc_id AND p.j BETWEEN c.start AND c.start + 7)),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY j) AS txt
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           md5(COALESCE(a.txt, '')) AS clean_md5
    FROM toks t LEFT JOIN agg a USING (doc_id)
"""


def q_doc_dup_span_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. 2022 exact-substring dedup
    (operators.curation.duplicate_span_removal_maximal): duplicate
    8-grams chained into MAXIMAL spans by a per-document
    gaps-and-islands merge, spans ≥ 50 tokens removed, the surviving
    text byte-exactly fingerprinted.  The published removal standard
    next to doc_dup_span_removal's coverage variant: sub-floor
    duplication stays in the document.  Span lengths in the synthetic
    corpus straddle the 50-token floor (11-93 tokens at sf0.01), so
    both the keep and the remove branches are hash-checked."""

    return duplicate_span_removal_maximal(
        _t(spark, sf_dir, "documents"), n=8, min_tokens=50
    )


ORACLES["doc_dup_span_maximal"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    posgrams AS (
      SELECT doc_id, i AS start,
             ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT AS gram
      FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) t
      WHERE len(w) >= 8),
    dup AS (
      SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM posgrams)
      GROUP BY gram HAVING COUNT(*) >= 2),
    iv AS (
      SELECT DISTINCT doc_id, start, start + 7 AS e
      FROM posgrams JOIN dup USING (gram)),
    marked AS (
      SELECT doc_id, start, e,
             CASE WHEN start > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1000000) + 1 THEN 1 ELSE 0 END AS ni
      FROM iv),
    isl AS (
      SELECT doc_id, start, e,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY start) AS island
      FROM marked),
    spans AS (
      SELECT doc_id, MIN(start) AS s, MAX(e) AS e2
      FROM isl GROUP BY doc_id, island
      HAVING MAX(e) - MIN(start) + 1 >= 50),
    positions AS (
      SELECT doc_id, j, w[j] AS tok
      FROM toks, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS j) t),
    kept AS (
      SELECT p.doc_id, p.j, p.tok
      FROM positions p
      WHERE NOT EXISTS (
        SELECT 1 FROM spans c
        WHERE c.doc_id = p.doc_id AND p.j BETWEEN c.s AND c.e2)),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY j) AS txt
      FROM kept GROUP BY doc_id),
    nsp AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(len(t.w) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           md5(COALESCE(a.txt, '')) AS clean_md5
    FROM toks t
    LEFT JOIN agg a USING (doc_id)
    LEFT JOIN nsp s USING (doc_id)
"""


def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional n-gram CONTAINMENT pairs (new round 13):
    C(a → b) = |A∩B| / |A| ≥ 0.4 over 3-gram shingle sets with the
    standard df-1000 cap — the asymmetric twin of dedup_ngram_jaccard
    that catches a short document quoted inside a long one (Jaccard
    |A|/|B| ≈ 0, containment 1.0), the measure behind
    contained-document stripping in the exact-substring dedup recipes.
    Same inverted-index candidate generation (never all-pairs), same
    shared collapse dial: above it every superlinear stage runs at the
    distinct-content fingerprint level (operators.dedup)."""

    return ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.4,
        collapse_distinct=collapse_dial(spark, sf_dir),
    )


ORACLES["dedup_ngram_containment"] = f"""
    WITH sh0 AS ({_SHINGLES_SQL}),
    freq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
           JOIN freq ON sh0.shingle = freq.shingle WHERE freq.df <= 1000),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sized AS (
      SELECT a_id, b_id, n_inter, na.n_sh AS n_a, nb.n_sh AS n_b
      FROM inter
      JOIN sizes na ON na.doc_id = a_id
      JOIN sizes nb ON nb.doc_id = b_id
    )
    SELECT contained_id, container_id, containment FROM (
      SELECT a_id AS contained_id, b_id AS container_id,
             ROUND(n_inter / n_a::DOUBLE, 6) AS containment FROM sized
      UNION ALL
      SELECT b_id AS contained_id, a_id AS container_id,
             ROUND(n_inter / n_b::DOUBLE, 6) AS containment FROM sized
    ) WHERE containment >= 0.4
"""


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


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "supplier_fuzzy_pairs": q_supplier_fuzzy_pairs,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_simhash64_pairs": q_dedup_simhash64_pairs,
    "dedup_band_histogram": q_dedup_band_histogram,
    "dedup_ngram_capped": q_dedup_ngram_capped,
    "dedup_clusters": q_dedup_clusters,
    "dedup_incremental": q_dedup_incremental,
    "docs_stream_dedup_gate": q_docs_stream_dedup_gate,
    "docs_stream_dedup_verified": q_docs_stream_dedup_verified,
    "dedup_incremental_persisted": q_dedup_incremental_persisted,
    "dedup_lsh_recall_report": q_dedup_lsh_recall_report,
    "dedup_lsh_recall_sampled": q_dedup_lsh_recall_sampled,
    "doc_dup_span_fraction": q_doc_dup_span_fraction,
    "doc_dup_span_removal": q_doc_dup_span_removal,
    "doc_dup_span_maximal": q_doc_dup_span_maximal,
    "dedup_ngram_containment": q_dedup_ngram_containment,
}
