"""Embeddings: exact cosine top-k, random-hyperplane LSH, IVF search
(in-memory and persisted), scalar quantization, centroids, k-means and
embedding-space dedup over ``embeddings``.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    MAX_LSH_BITS,
    N_LSH_TABLES,
    TARGET_BUCKET_ROWS,
    _as_double,
    ann_lsh_topk,
    assign_lists,
    centroid_rows,
    centroid_rows_literal,
    centroids_by_label,
    centroids_from_manifest,
    cosine_topk,
    cosine_topk_np,
    embedding_cosine_pairs,
    hyperplane_weight,
    ivf_rank_topk,
    ivf_topk,
    ivf_topk_multi,
    l2_norm,
    semdedup_keep,
    spread_small,
    sq8_topk,
)
from ..sources.readers import table_row_count
from ..sources.writers import write_parquet
from .core import _t
from .sources import _run_dir

ORACLES: dict[str, str] = {}


def _queries_frame(emb: DataFrame) -> DataFrame:
    """Deterministic BOUNDED query panel: every 50th vector with
    vec_id < 4000.

    The id cap is the round-6 scale fix: an unbounded modulus sample
    scales the panel WITH the corpus, which turns every brute-force
    leg (cosine_topk truth, the IVF recall audit) into O(N²/50) — the
    sf0.1→sf1 sweep measured exponent 1.32 on emb_ivf_recall_report
    before the cap and 0.71 after (SCALE.md round-6 table).  At the
    driver/bench scale factors (max vec_id 1999) the cap is inert, so
    every hash-checked relation is unchanged; beyond it the panel is
    a fixed 80 queries — top-k quality audits are estimates over a
    query SAMPLE, so a bounded panel is the statistically correct
    posture at 100 TB, not a concession."""
    return emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 4000)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = centroids_by_label(_t(spark, sf_dir, "embeddings"))
    return out.select(
        F.col("label").cast("long").alias("label"),
        F.col("pos").cast("long").alias("pos"),
        "centroid",
    )


ORACLES["emb_centroids"] = """
        SELECT CAST(label AS BIGINT) AS label,
               CAST(i - 1 AS BIGINT) AS pos,
               ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 8) AS centroid
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) t
        GROUP BY 1, 2
    """


def q_emb_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-list TRAINING: seeded k-means over the embedding column —
    the step that produces the centroid lists emb_ivf_topk assigns
    against (there the centroids ride as literals; here they are
    learned).  Distributed Lloyd's via Spark ML.

    Graduated to a hash-checked relation (round-5 verdict #1): one row
    per cluster id 0..k-1 (exact — KMeans labels clusters densely)
    carrying the EXACT corpus size (the oracle recounts it) and
    TRUE-literal invariant flags on the training outcome: cluster
    sizes partition the corpus (Σ sizes = N), every centroid has
    positive norm (continuous data cannot average to exactly 0⃗), and
    the final within-cluster SS is ≤ the TOTAL SS around the global
    mean — the k=1 optimum, which any useful k=8 fit must beat
    (measured 0.93-0.94× on the near-isotropic synthetic embeddings;
    Lloyd's monotone-descent makes bigger ratios a real training
    failure).  Total SS is computed distributed via the per-dimension
    Σv/Σv² identity — one scan, 64 bounded rows out.  The centroid
    grid itself stays observable on the fitted model."""

    emb = _t(spark, sf_dir, "embeddings")
    arr = emb.select(F.col("embedding").cast("array<double>").alias("e"))
    dim_stats = (
        arr.select(F.posexplode("e").alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("ss"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    n_points = int(dim_stats[0].n) if dim_stats else 0
    total_ss = sum(r.ss - (r.s * r.s) / r.n for r in dim_stats)

    feats = arr.select(array_to_vector("e").alias("features"))
    k = 8
    model = KMeans(k=k, seed=42, maxIter=5).fit(feats)
    sizes = model.summary.clusterSizes
    cost = float(model.summary.trainingCost)
    sizes_ok = sum(int(s) for s in sizes) == n_points
    # degenerate guard (ADVICE r6 #2): identical points give total_ss≈0
    # where float noise could put cost a hair above it — the k=1 bound
    # is vacuous, not failed
    cost_ok = math.isfinite(cost) and 0.0 <= cost and (
        total_ss <= 0.0 or cost <= total_ss
    )
    rows = [
        (
            ci,
            n_points,
            sizes_ok,
            float(sum(v * v for v in center)) > 0.0,
            cost_ok,
        )
        for ci, center in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(
        rows,
        "cluster_id long, n_points long, sizes_sum_to_n boolean, "
        "norm_positive boolean, cost_le_total_ss boolean",
    )


ORACLES["emb_kmeans_centroids"] = """
        SELECT CAST(ci AS BIGINT) AS cluster_id,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_points,
               TRUE AS sizes_sum_to_n, TRUE AS norm_positive,
               TRUE AS cost_le_total_ss
        FROM (SELECT unnest(range(8)) AS ci)
    """


def _align_partition_key(probe: DataFrame, table: DataFrame, col: str) -> DataFrame:
    """Cast ``probe[col]`` to the partition column's read-back type so
    the dynamic-pruning subquery lands on the BARE partition column —
    partition discovery infers its own (usually narrower) type, and a
    cast on the scan side would defeat DPP.  Shared by the persisted
    IVF/IVFPQ searches."""
    return probe.withColumn(col, F.col(col).cast(table.schema[col].dataType))


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    """Left-to-right fold matching operators.similarity.dot exactly."""
    expr = "0.0"
    for i in range(1, dim + 1):
        expr = f"({expr} + CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))"
    return expr


def _norm_sql(a: str, dim: int = 64) -> str:
    expr = "0.0"
    for i in range(1, dim + 1):
        expr = f"({expr} + CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE))"
    return f"sqrt({expr})"


def _cosine_topk_sql(k: int = 5, decimals: int = 8,
                     src: str = "embeddings") -> str:
    return f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv, {_norm_sql('embedding')} AS qnorm
          FROM {src} WHERE vec_id % 50 = 0 AND vec_id < 4000
        ),
        c AS (
          SELECT vec_id AS cand_id, embedding AS cv, {_norm_sql('embedding')} AS cnorm
          FROM {src}
        ),
        scored AS (
          SELECT query_id, cand_id,
                 ROUND({_dot_sql('qv', 'cv')} / (qnorm * cnorm), {decimals}) AS cosine
          FROM q JOIN c ON cand_id <> query_id
        )
        SELECT query_id, cand_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
        FROM scored
        QUALIFY rk <= {k}
    """


def _hyperplane_proj_sql(vec: str, i: int, dim: int = 64, seed: str = "hp") -> str:
    expr = "0.0"
    for j in range(dim):
        w = hyperplane_weight(i, j, seed)
        expr = f"({expr} + CAST({vec}[{j + 1}] AS DOUBLE) * {w!r})"
    return expr


def _bucket_sql(vec: str, n_bits: int = 4, dim: int = 64, seed: str = "hp") -> str:
    terms = [
        f"CASE WHEN {_hyperplane_proj_sql(vec, i, dim, seed)} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(n_bits)
    ]
    return "(" + " + ".join(terms) + ")"


def _ann_lsh_sql(k: int = 5, n_bits: int = 4, dim: int = 64) -> str:
    return f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv,
                 {_norm_sql('embedding', dim)} AS qnorm,
                 {_bucket_sql('embedding', n_bits, dim)} AS bucket
          FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 4000
        ),
        c AS (
          SELECT vec_id AS cand_id, embedding AS cv,
                 {_norm_sql('embedding', dim)} AS cnorm,
                 {_bucket_sql('embedding', n_bits, dim)} AS bucket
          FROM embeddings
        ),
        scored AS (
          SELECT query_id, cand_id,
                 ROUND({_dot_sql('qv', 'cv', dim)} / (qnorm * cnorm), 8) AS cosine
          FROM q JOIN c ON q.bucket = c.bucket AND cand_id <> query_id
        )
        SELECT query_id, cand_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
        FROM scored
        QUALIFY rk <= {k}
    """


def _emb_cosine_pairs_sql(threshold: float = 0.3, dim: int = 64) -> str:
    """Mirror of the scale-adaptive multi-table embedding LSH
    (operators.similarity.embedding_cosine_pairs): the effective bit
    width is the same integer CASE ladder adaptive_n_bits computes,
    each table's full MAX_LSH_BITS-bit bucket is masked down to the
    effective width (bit i contributes 2^i, so the low-bit mask equals
    computing only the first nb hyperplanes), and OR-banded candidates
    dedup via DISTINCT over the surviving pairs."""

    ladder = " ".join(
        f"WHEN n >= {TARGET_BUCKET_ROWS * (1 << b)} THEN {b}"
        for b in range(MAX_LSH_BITS, 1, -1)
    )
    tables = " UNION ALL ".join(
        f"""SELECT vec_id, embedding, nrm, {t} AS t,
               ({_bucket_sql('embedding', MAX_LSH_BITS, dim, seed=f'hp{t}')})
               & ((CAST(1 AS BIGINT) << nb) - 1) AS bkt
            FROM v CROSS JOIN eff"""
        for t in range(N_LSH_TABLES)
    )
    return f"""
        WITH eff AS (
          SELECT CASE {ladder} ELSE 1 END AS nb
          FROM (SELECT COUNT(*) AS n FROM embeddings)
        ),
        v AS (
          SELECT vec_id, embedding, {_norm_sql('embedding', dim)} AS nrm
          FROM embeddings
        ),
        tb AS ({tables}),
        cand AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ROUND({_dot_sql('a.embedding', 'b.embedding', dim)} / (a.nrm * b.nrm), 8) AS cosine
          FROM tb a JOIN tb b ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id
        )
        SELECT DISTINCT a_id, b_id, cosine FROM cand WHERE cosine >= {threshold}
    """


def _ivf_topk_sql(k: int = 5, nprobe: int = 2, dim: int = 64) -> str:
    # list-based centroid dot products: both engines fold the 64 elements
    # left-to-right; the coarse cosine is rounded to 6dp before ranking.
    cdot = ("list_sum(list_transform(list_zip(CAST({v} AS DOUBLE[]), {c}), t -> t[1] * t[2]))")
    return f"""
        WITH cent AS (
          SELECT list_label, list(c ORDER BY pos) AS cvec
          FROM (
            SELECT CAST(label AS INT) AS list_label, i AS pos,
                   ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 8) AS c
            FROM embeddings, (SELECT unnest(range(1, {dim + 1})) AS i) t
            GROUP BY 1, 2
          ) GROUP BY list_label
        ),
        centn AS (
          SELECT list_label, cvec,
                 sqrt(list_sum(list_transform(cvec, x -> x * x))) AS cnorm2
          FROM cent
        ),
        cand AS (
          SELECT vec_id AS cand_id, embedding, {_norm_sql('embedding', dim)} AS nrm
          FROM embeddings
        ),
        cassign AS (
          SELECT cand_id, embedding, nrm, list_label FROM (
            SELECT c.cand_id, c.embedding, c.nrm, n.list_label,
                   ROW_NUMBER() OVER (
                     PARTITION BY c.cand_id
                     ORDER BY ROUND({cdot.format(v='c.embedding', c='n.cvec')} / (c.nrm * n.cnorm2), 6) DESC,
                              n.list_label
                   ) AS crn
            FROM cand c CROSS JOIN centn n
          ) WHERE crn = 1
        ),
        q AS (
          SELECT vec_id AS query_id, embedding, {_norm_sql('embedding', dim)} AS nrm
          FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 4000
        ),
        qassign AS (
          SELECT query_id, embedding, nrm, list_label FROM (
            SELECT qq.query_id, qq.embedding, qq.nrm, n.list_label,
                   ROW_NUMBER() OVER (
                     PARTITION BY qq.query_id
                     ORDER BY ROUND({cdot.format(v='qq.embedding', c='n.cvec')} / (qq.nrm * n.cnorm2), 6) DESC,
                              n.list_label
                   ) AS crn
            FROM q qq CROSS JOIN centn n
          ) WHERE crn <= {nprobe}
        ),
        scored AS (
          SELECT qa.query_id, ca.cand_id,
                 ROUND({_dot_sql('qa.embedding', 'ca.embedding', dim)} / (qa.nrm * ca.nrm), 8) AS cosine
          FROM qassign qa JOIN cassign ca
            ON qa.list_label = ca.list_label AND ca.cand_id <> qa.query_id
        )
        SELECT query_id, cand_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
        FROM scored QUALIFY rk <= {k}
    """


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, _queries_frame(emb), k=5)
    return out.select("query_id", "cand_id", "cosine", F.col("rk").cast("long").alias("rk"))


ORACLES["emb_cosine_topk"] = _cosine_topk_sql()


def q_emb_cosine_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized brute-force cosine top-k (mapInPandas + BLAS
    matmul with per-batch local top-k) — same relation as
    emb_cosine_topk at 4dp rounding."""
    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk_np(emb, _queries_frame(emb), k=5, decimals=4)
    return out.select("query_id", "cand_id", "cosine", F.col("rk").cast("long").alias("rk"))


ORACLES["emb_cosine_topk_np"] = _cosine_topk_sql(decimals=4)


def q_emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = ann_lsh_topk(emb, _queries_frame(emb), k=5, n_bits=4, dim=64)
    return out.select("query_id", "cand_id", "cosine", F.col("rk").cast("long").alias("rk"))


ORACLES["emb_ann_lsh"] = _ann_lsh_sql()


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: per-label centroid lists, nprobe=2, exact top-k within
    the probed lists."""
    emb = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, _queries_frame(emb), k=5, nprobe=2)
    return out.select("query_id", "cand_id", "cosine", F.col("rk").cast("long").alias("rk"))


ORACLES["emb_ivf_topk"] = _ivf_topk_sql()


def q_emb_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index PERSIST-then-SEARCH: the list-partitioned layout that
    makes nprobe PHYSICAL at 100 TB.  BUILD assigns every corpus
    vector its nearest coarse list (the same zero-shuffle
    literal-centroid projection as emb_ivf_topk), then writes the
    inverted lists through the parquet sink PARTITIONED BY list_label
    — one directory per list — plus a JSON centroid manifest beside
    them, so the index is self-describing and the vector norms are
    computed once at build.  SEARCH touches only the persisted form:
    centroids reload from the manifest (Python JSON float round-trip
    is exact, so the rebuilt assignment literals are bit-identical)
    and candidates stream from the lists table, where the broadcast
    equi-join on the PARTITION column hands Spark a
    dynamic-partition-pruning subquery — at scale, probing nprobe=2
    of L lists reads 2/L of the index as a partition-directory skip,
    which the flat layout (emb_ivf_topk re-assigns the corpus per
    query) cannot express.  Plan-asserted in pytest: the lists scan
    carries a dynamicpruning PartitionFilter, and no corpus-side scan
    reads the raw embedding column (the only raw-vector read is the
    bounded strided query panel).

    Same centroids, panel, nprobe, ranking, and oracle
    (_ivf_topk_sql) as emb_ivf_topk, so sink round-trip loss, manifest
    skew, or an over-pruned partition is a hash mismatch, not a
    silent recall drop."""

    nprobe, k = 2, 5
    d = _run_dir("ivf_index", sf_dir)
    lists_path = os.path.join(d, "lists")
    manifest_path = os.path.join(d, "centroid_manifest.json")
    emb = _t(spark, sf_dir, "embeddings")
    # ---- BUILD: coarse-assign (zero shuffle) + persist per-list ----
    cents = centroid_rows(emb)
    cand = emb.select(
        F.col("vec_id").alias("cand_id"), _as_double("embedding").alias("cvec")
    ).withColumn("nrm", l2_norm(F.col("cvec")))
    cand_lists = assign_lists(
        cand, centroid_rows_literal(cents), "cand_id", "cvec", 1
    ).withColumnRenamed("nrm", "cnrm")
    write_parquet(cand_lists, lists_path, partition_by=["list_label"])
    with open(manifest_path, "w") as f:
        json.dump(
            {"metric": "cosine", "nlist": len(cents),
             "centroids": [
                 {"label": lbl, "vec": vec, "norm": nrm}
                 for lbl, vec, nrm in cents
             ]},
            f,
        )
    # ---- SEARCH: only the persisted index from here on ----
    with open(manifest_path) as f:
        manifest = json.load(f)
    cent_arr = centroid_rows_literal(centroids_from_manifest(manifest))
    lists = spark.read.parquet(lists_path)
    q = _queries_frame(emb).select(
        "query_id", F.col("query_vec").cast("array<double>").alias("qvec")
    ).withColumn("nrm", l2_norm(F.col("qvec")))
    q_lists = assign_lists(q, cent_arr, "query_id", "qvec", nprobe).withColumnRenamed(
        "nrm", "qnrm"
    )
    q_lists = _align_partition_key(q_lists, lists, "list_label")
    return ivf_rank_topk(lists, q_lists, k=k)


ORACLES["emb_ivf_persisted_topk"] = _ivf_topk_sql()


def q_dedup_emb_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed (dedup surface).
    Bucket width adapts to the corpus count (adaptive_n_bits) with
    recall recovered by OR-banded independent hyperplane tables —
    candidate volume O(N·TARGET_BUCKET_ROWS), not O(N²/2^const).
    The count comes from parquet footer METADATA (table stats), not a
    blocking ``emb.count()`` Spark job at plan build (round-7 verdict
    watch item); the DuckDB oracle's COUNT(*) CASE ladder sees the
    same number, so the effective bit width is bit-identical."""

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(
        emb, threshold=0.3, dim=64, n_rows=table_row_count(sf_dir, "embeddings")
    )


ORACLES["dedup_emb_cosine"] = _emb_cosine_pairs_sql()

_SQ8_Q = (
    "CAST(FLOOR(GREATEST(-1.0, LEAST(1.0, CAST({v}[{i}] AS DOUBLE))) * 127 + 0.5) AS BIGINT)"
)


def q_emb_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized ANN top-k (operators.similarity.sq8_topk):
    integer dot products over [-127,127] codes — exact arithmetic, no
    float-summation ambiguity, 4-8× less vector bandwidth at scale."""

    emb = _t(spark, sf_dir, "embeddings")
    out = sq8_topk(emb, _queries_frame(emb), k=5)
    return out.select("query_id", "cand_id", "dot_q8", F.col("rk").cast("long").alias("rk"))


ORACLES["emb_sq8_topk"] = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 4000
    ),
    c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, cand_id,
             CAST(list_sum(list_transform(range(1, 65), i ->
               {_SQ8_Q.format(v='qv', i='i')} * {_SQ8_Q.format(v='cv', i='i')}
             )) AS BIGINT) AS dot_q8
      FROM q JOIN c ON cand_id <> query_id
    )
    SELECT query_id, cand_id, dot_q8,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY dot_q8 DESC, cand_id) AS BIGINT) AS rk
    FROM scored QUALIFY rk <= 5
"""

_IVF_AUDIT_NPROBES = (1, 2, 4)


def _ivf_recall_leg_sql(nprobe: int) -> str:
    return f"""
    SELECT CAST({nprobe} AS BIGINT) AS nprobe,
           (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM ap{nprobe}) AS n_approx,
           (SELECT COUNT(*) FROM truth t JOIN ap{nprobe} a
             ON t.query_id = a.query_id AND t.cand_id = a.cand_id) AS n_hit,
           ROUND((SELECT COUNT(*) FROM truth t JOIN ap{nprobe} a
                   ON t.query_id = a.query_id AND t.cand_id = a.cand_id)
                 / (SELECT COUNT(*) FROM truth)::DOUBLE, 6) AS recall_at_5
    """


_SEMDEDUP_CDOT = (
    "list_sum(list_transform(list_zip(CAST({v} AS DOUBLE[]), {c}),"
    " t -> t[1] * t[2]))"
)


def q_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table
    (operators.similarity.semdedup_keep): cluster-bucketed semantic
    near-dup removal — assign each vector to its nearest per-label-mean
    centroid (zero-shuffle literal projection), pair within clusters
    only (salted self-join), keep one representative per near-dup
    group via the dominated-pair rule.  Complements dedup_emb_cosine:
    hyperplane-LSH buckets by random projection; SemDeDup buckets by
    learned cluster structure, which is the published recipe for
    web-scale pretraining-data pruning."""

    return semdedup_keep(_t(spark, sf_dir, "embeddings"), threshold=0.3)


ORACLES["dedup_semdedup"] = f"""
    WITH cent AS (
      SELECT list_label, list(c ORDER BY pos) AS cvec
      FROM (
        SELECT CAST(label AS INT) AS list_label, i AS pos,
               ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 8) AS c
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) t
        GROUP BY 1, 2
      ) GROUP BY list_label
    ),
    centn AS (
      SELECT list_label, cvec,
             sqrt(list_sum(list_transform(cvec, x -> x * x))) AS cnorm2
      FROM cent
    ),
    v AS (
      SELECT vec_id AS vid, embedding, {_norm_sql('embedding')} AS nrm
      FROM embeddings
    ),
    assigned AS (
      SELECT vid, embedding, nrm, list_label FROM (
        SELECT v.vid, v.embedding, v.nrm, n.list_label,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vid
                 ORDER BY ROUND({_SEMDEDUP_CDOT.format(v='v.embedding', c='n.cvec')}
                                / (v.nrm * n.cnorm2), 6) DESC,
                          n.list_label
               ) AS crn
        FROM v CROSS JOIN centn n
      ) WHERE crn = 1
    ),
    removed AS (
      SELECT DISTINCT b.vid AS rm_id
      FROM assigned a JOIN assigned b
        ON a.list_label = b.list_label AND a.vid < b.vid
      WHERE ROUND({_dot_sql('a.embedding', 'b.embedding')}
                  / (a.nrm * b.nrm), 8) >= 0.3
    )
    SELECT a.vid AS vec_id, CAST(a.list_label AS INT) AS list_label,
           r.rm_id IS NULL AS keep
    FROM assigned a LEFT JOIN removed r ON a.vid = r.rm_id
"""


def _recall_truth(emb: DataFrame, q: DataFrame, k: int = 5) -> tuple[DataFrame, DataFrame]:
    """The truth leg of a recall audit: each panel query's exact cosine
    top-``k`` pairs, checkpointed once because every approximate leg
    is compared with it, and their one-row count ``n_truth``."""
    truth = (
        cosine_topk(emb, q, k=k)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=False)
    )
    return truth, truth.agg(F.count(F.lit(1)).alias("n_truth"))


def _recall(n_hit: str, alias: str) -> Column:
    """``n_hit / n_truth`` rounded to 6 dp, as every recall oracle rounds it."""
    return F.round(F.col(n_hit) / F.col("n_truth"), 6).alias(alias)


def _hit_count(truth: DataFrame, found: DataFrame, alias: str) -> DataFrame:
    """One-row count of the truth pairs that ``found`` also returns."""
    return truth.join(found, ["query_id", "cand_id"], "left_semi").agg(
        F.count(F.lit(1)).alias(alias)
    )


def _sweep_recall(sweep: DataFrame, truth: DataFrame, n_truth: DataFrame,
                  keys: list[str]) -> DataFrame:
    """Recall@5 per setting of an ANN sweep whose rows are tagged with
    the setting's ``keys``: one row per setting with the truth pairs,
    approximate pairs, hits and recall.

    ONE grouped pass instead of one scalar leg per setting (the per-leg
    form — filter + semi-join + two single-row aggregates + two
    broadcasts per setting, unioned — planned ~40 AQE stage-jobs for a
    6-row report): per-setting counts are a groupBy over the tagged
    sweep, hits come from one left join against the truth relation
    (truth pairs are unique per (query_id, cand_id) — top-k with
    distinct candidates — so the join cannot duplicate rows), and
    n_truth is one broadcast scalar."""
    flagged = sweep.join(
        F.broadcast(truth.withColumn("hit", F.lit(1))),
        ["query_id", "cand_id"],
        "left",
    )
    return (
        flagged.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_approx"),
            F.count("hit").alias("n_hit"),
        )
        .crossJoin(F.broadcast(n_truth))
        .select(*keys, "n_truth", "n_approx", "n_hit", _recall("n_hit", "recall_at_5"))
    )


def q_emb_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality audit of the IVF ANN index against exact
    brute-force ground truth — the similarity-search twin of
    dedup_lsh_recall_report: recall@5 of the IVF path at nprobe ∈
    {1, 2, 4}, one row per setting (truth pairs, IVF pairs, hits,
    recall).  A recall CURVE, not a single number, is what justifies
    the nprobe/list-count trade before trusting it at corpus scale —
    at 100 TB the audit runs on a query SAMPLE while production
    serves IVF only.  Both legs are existing oracle-green operators;
    the truth relation is localCheckpoint'd once, and all probe
    settings come from ONE assignment/scoring pass (ivf_topk_multi —
    the parameter sweep must not cost |settings| corpus passes)."""

    truth_emb = _t(spark, sf_dir, "embeddings")
    n_rows = table_row_count(sf_dir, "embeddings")
    q = _queries_frame(truth_emb)
    truth, n_truth = _recall_truth(spread_small(truth_emb, n_rows), q)
    multi = ivf_topk_multi(
        truth_emb, q, k=5, nprobes=_IVF_AUDIT_NPROBES, spread_rows=n_rows
    )
    return _sweep_recall(multi, truth, n_truth, ["nprobe"])


ORACLES["emb_ivf_recall_report"] = (
    "WITH truth AS (SELECT query_id, cand_id FROM ("
    + _cosine_topk_sql()
    + ") t),\n"
    + ",\n".join(
        f"ap{n} AS (SELECT query_id, cand_id FROM ({_ivf_topk_sql(nprobe=n)}) a{n})"
        for n in _IVF_AUDIT_NPROBES
    )
    + "\n"
    + "\nUNION ALL\n".join(_ivf_recall_leg_sql(n) for n in _IVF_AUDIT_NPROBES)
)


QUERIES = {
    "emb_centroids": q_emb_centroids,
    "emb_kmeans_centroids": q_emb_kmeans_centroids,
    "emb_cosine_topk": q_emb_cosine_topk,
    "emb_cosine_topk_np": q_emb_cosine_topk_np,
    "emb_ann_lsh": q_emb_ann_lsh,
    "emb_ivf_topk": q_emb_ivf_topk,
    "emb_ivf_persisted_topk": q_emb_ivf_persisted_topk,
    "dedup_emb_cosine": q_dedup_emb_cosine,
    "emb_sq8_topk": q_emb_sq8_topk,
    "dedup_semdedup": q_dedup_semdedup,
    "emb_ivf_recall_report": q_emb_ivf_recall_report,
}
