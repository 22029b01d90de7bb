"""Similarity search over an embedding column (extension surface;
SURVEY.md §7 step 7).

Two tiers, per the standard ANN playbook:

- **brute-force cosine top-k** — the exactness baseline.  The query set
  is broadcast (it is small by construction); the candidate side streams
  through a single codegen'd stage computing the dot product with
  ``zip_with`` + ``aggregate`` array expressions (no Python in the
  loop).  Cost is |Q|·|C| — correct at any scale where |Q| is bounded.
- **random-hyperplane LSH buckets** — the scale path.  Sign bits of
  ``h`` deterministic pseudo-random hyperplanes (seeded via the md5
  cross-engine hash, so the DuckDB oracle reproduces them exactly)
  bucket the vectors; top-k runs within matching buckets only.  Recall
  is tunable with ``n_bits``/multi-probe; the plan replaces the cross
  join with an equi-join on the bucket key.

Embeddings are float32 on disk; both engines cast to double before the
fold, and both fold left-to-right, so dot products match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "l2_norm",
    "cosine_topk",
    "cosine_topk_np",
    "hyperplane_bits",
    "ann_lsh_topk",
    "embedding_cosine_pairs",
    "ivf_topk",
    "ivf_topk_multi",
    "ivfpq_topk_multi",
    "spread_small",
    "spread_small_by",
    "centroid_literal_array",
    "centroid_rows",
    "centroids_from_manifest",
    "centroid_rows_literal",
    "assign_lists",
    "semdedup_keep",
    "centroids_by_label",
    "sq8_quantize",
    "sq8_topk",
    "pq_codebooks",
    "pq_lut_expr",
    "pq_adc_from_lut",
    "pq_adc_rank",
    "ivf_rank_topk",
    "pq_det_codebooks",
    "pq_code_expr",
    "pq_adc_expr",
    "pq_decode_expr",
]


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left-to-right fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


#: Corpus size below which the vector relation typically lands in ONE
#: parquet row group — an unsplittable scan, so every broadcast-joined
#: scoring stage downstream runs as a SINGLE task regardless of
#: cluster size (measured r13: dedup_emb_cosine spent 10.5 s in a
#: 1-task pair-scoring stage at sf0.1).  Below this bound one narrow
#: round-robin exchange of the vectors is negligible (≤ ~0.5 GB)
#: next to the serialized scoring it unlocks; above it the scan has
#: real splits and the exchange would be a pure waste — the gate makes
#: the plan scale-adaptive instead of tuned for either regime.
SPREAD_MAX_ROWS = 1_000_000


def spread_small(df: DataFrame, n_rows: int | None,
                 max_rows: int = SPREAD_MAX_ROWS) -> DataFrame:
    """Round-robin repartition a SMALL relation to the cluster's
    default parallelism before per-row/per-pair-expensive scoring.
    ``n_rows`` is the caller's parquet-footer count (no Spark job);
    ``None`` or a count above ``max_rows`` returns ``df`` unchanged.
    Row order never reaches results on these paths (per-row scoring +
    keyed windows/aggregations only — no order-sensitive float
    accumulation), so the output is identical with or without the
    exchange."""
    if n_rows is not None and 0 < n_rows <= max_rows:
        sc = df.sparkSession.sparkContext
        return df.repartition(sc.defaultParallelism)
    return df


def spread_small_by(df: DataFrame, n_rows: int | None, *cols: str,
                    max_rows: int = SPREAD_MAX_ROWS) -> DataFrame:
    """Keyed twin of :func:`spread_small`: hash-repartition a SMALL
    relation on ``cols`` at the cluster's default parallelism.  Used
    ahead of per-key windows so the window pass is both exchange-free
    and |cores|-wide instead of AQE-coalesced to one task (a
    few-MB-sized relation always is).  Same gate as spread_small:
    above ``max_rows`` the relation is data-scale, the per-leg window
    exchanges already size themselves adaptively, and a fixed-width
    exchange here would be a scale bug — return ``df`` unchanged."""
    if n_rows is not None and 0 < n_rows <= max_rows:
        sc = df.sparkSession.sparkContext
        return df.repartition(sc.defaultParallelism, *cols)
    return df


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    ``queries`` is (query_id, query_vec) — broadcast; ``emb`` is the
    candidate corpus.  Self-matches (same id) are excluded.  Ties on
    (rounded) cosine break by candidate id so results are deterministic
    and engine-independent.
    """
    cand = emb.select(
        F.col(id_col).alias("cand_id"), _as_double(vec_col).alias("cvec")
    ).withColumn("cnorm", l2_norm(F.col("cvec")))
    q = queries.select(
        F.col("query_id"), F.col("query_vec").cast("array<double>").alias("qvec")
    ).withColumn("qnorm", l2_norm(F.col("qvec")))
    scored = (
        cand.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")), 8),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "cosine", F.col("rk").alias("rk"))
    )


def cosine_topk_np(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Arrow-batched numpy variant of ``cosine_topk`` — the vectorized
    Python path for when array expressions aren't enough (here it also
    happens to beat the expression fold: one BLAS matmul per Arrow
    batch vs an interpreted per-element HOF).

    The query matrix is small by construction — collected once,
    row-normalized, and closed over into a ``mapInPandas`` stage that
    computes the |Q|×|batch| cosine block and keeps only each query's
    local top-k (ties broken by candidate id).  The shuffle therefore
    carries ≤ |Q|·k rows per input batch, never the full score matrix;
    a final per-query window reduces local winners to the global top-k.

    BLAS sums in SIMD/pairwise order, not left-to-right, so scores are
    rounded to ``decimals`` (coarser than cosine_topk's 8) before
    ranking — 1e-13-scale reassociation noise cannot straddle a 1e-4
    rounding boundary, keeping results engine-independent.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(
        "query_id", F.col("query_vec").cast("array<double>").alias("qv")
    ).collect()
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in q_rows])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["cand_id"].to_numpy(dtype=np.int64)
            C = np.stack(pdf["cvec"].to_list()).astype(np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = np.round(Qn @ Cn.T, decimals)  # |Q| × |batch|
            out_q, out_c, out_s = [], [], []
            for qi in range(len(q_ids)):
                row = S[qi].copy()
                row[ids == q_ids[qi]] = -np.inf  # self-match
                order = np.lexsort((ids, -row))[:k]
                keep = order[np.isfinite(row[order])]
                out_q.append(np.full(len(keep), q_ids[qi]))
                out_c.append(ids[keep])
                out_s.append(row[keep])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "cosine": np.concatenate(out_s),
                }
            )

    cand = emb.select(
        F.col(id_col).alias("cand_id"), _as_double(vec_col).alias("cvec")
    )
    local = cand.mapInPandas(score, "query_id long, cand_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id").asc())
    return (
        local.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "cosine", "rk")
    )


def hyperplane_weight(i: int, j: int, seed: str = "hp") -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1).

    Derived from ``md5("<seed>:<i>:<j>")`` exactly like the in-plan
    cross-engine hash; computed driver-side so the weights are plan
    literals (and inlined identically into the DuckDB oracle SQL)."""
    import hashlib

    h = int(hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:8], 16)
    return (h % 2001 - 1000) / 1000.0


def hyperplane_bits(vec: str, n_bits: int, dim: int,
                    seed: str = "hp") -> Column:
    """LSH bucket id: sign bits of ``n_bits`` deterministic hyperplanes,
    as one long.  ``vec`` is the SQL text of an array<double> column
    reference; the result is ONE ``F.expr`` parsed JVM-side (one py4j
    call, whatever ``n_bits``·``dim``).

    Each hyperplane's weights ride as one packed array literal folded
    with ``zip_with`` + ``aggregate``: the projection is ``dim``
    multiply-adds from a 0.0 seed, left to right (``zip_with``'s NULL
    padding makes a short ``vec`` project to NULL, so its bit is 0).
    Bit ``i`` adds ``2**i`` when the projection is > 0, the bits summed
    in index order.  tests/test_properties.py pins the result to a
    pure-Python reference of the same folds."""
    total = "CAST(0 AS BIGINT)"
    for i in range(n_bits):
        w = _sql_arr(hyperplane_weight(i, j, seed) for j in range(dim))
        proj = (f"aggregate(zip_with({vec}, {w}, (x, y) -> x * y), "
                f"0.0D, (acc, x) -> acc + x)")
        total = (f"{total} + (CASE WHEN {proj} > 0 "
                 f"THEN CAST({2 ** i} AS BIGINT) ELSE 0 END)")
    return F.expr(total)


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: cosine ranking restricted to candidates in the
    query's hyperplane bucket.  Same output shape as ``cosine_topk``."""
    cand = emb.select(
        F.col(id_col).alias("cand_id"), _as_double(vec_col).alias("cvec")
    )
    cand = cand.withColumn("bucket", hyperplane_bits("cvec", n_bits, dim)) \
               .withColumn("cnorm", l2_norm(F.col("cvec")))
    q = queries.select(
        F.col("query_id"), F.col("query_vec").cast("array<double>").alias("qvec")
    )
    q = q.withColumn("bucket", hyperplane_bits("qvec", n_bits, dim)) \
         .withColumn("qnorm", l2_norm(F.col("qvec")))
    scored = (
        cand.join(F.broadcast(q), "bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")), 8),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "cosine", F.col("rk").alias("rk"))
    )


#: embedding-LSH sizing shared with the DuckDB oracle (catalog.embeddings):
#: buckets target ~TARGET_BUCKET_ROWS vectors each, bit width capped at
#: MAX_LSH_BITS, recall recovered with N_LSH_TABLES independent
#: OR-banded hyperplane tables (seeds "hp0", "hp1", ...).
TARGET_BUCKET_ROWS = 128
MAX_LSH_BITS = 12
N_LSH_TABLES = 2


def adaptive_n_bits(n_rows: int, target_bucket_rows: int = TARGET_BUCKET_ROWS,
                    max_bits: int = MAX_LSH_BITS) -> int:
    """Bucket-width for hyperplane LSH derived from the corpus size:
    the largest ``b ≤ max_bits`` with ``n_rows ≥ target_bucket_rows·2^b``
    (i.e. floor(log2(n_rows / target)) clamped to [1, max_bits]) — so
    expected bucket occupancy stays ~``target_bucket_rows`` as the
    corpus grows and within-bucket candidate volume is O(N·target),
    not O(N²/2^const).  Pure integer comparisons: the DuckDB oracle
    mirrors this as a CASE ladder on COUNT(*), bit-identically."""
    for b in range(max_bits, 1, -1):
        if n_rows >= target_bucket_rows * (1 << b):
            return b
    return 1


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    n_bits: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_salts: int = 8,
    n_tables: int = N_LSH_TABLES,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup surface).

    The scale path of embedding dedup: hyperplane-LSH bucket both sides,
    equi-join on the bucket (same-bucket vectors are the near-dup
    candidates), verify with the exact cosine, keep pairs ≥ threshold.
    The full |N|² cross join never materializes.

    **Bucket width scales with the corpus** (round-6 verdict): with a
    fixed ``n_bits`` the 2^n_bits-bucket space makes candidate volume
    O(N²/2^n_bits) — quadratic at 100× data.  Default ``n_bits=None``
    derives the width from the corpus count via ``adaptive_n_bits`` so
    buckets hold ~``TARGET_BUCKET_ROWS`` rows and candidates grow
    O(N·target).  The count is one cheap metadata-scale job at plan
    time (pass ``n_rows`` to skip it).  Recall lost to narrower buckets
    is recovered with ``n_tables`` INDEPENDENT hyperplane tables
    OR-banded like ``minhash_bands`` (dedup.py): a pair is a candidate
    if it collides in ANY table; duplicate hits dedup via a post-filter
    ``distinct`` over the (tiny) surviving pair set.

    ``n_salts`` splits each bucket's pair work across the cluster:
    side *a* gets a deterministic salt, side *b* is replicated once per
    salt, and the join key becomes (table, bucket, salt) — every
    unordered pair still meets exactly once per colliding table, at
    tables · 2^n_bits · n_salts-way parallelism.  Output:
    (a_id, b_id, cosine) with a_id < b_id, one row per pair.
    """
    if n_bits is None:
        n = emb.count() if n_rows is None else n_rows
        n_bits = adaptive_n_bits(n)
    v = emb.select(F.col(id_col).alias("vid"), _as_double(vec_col).alias("vec"))
    # r13: a small corpus scans as ONE parquet split, and because side
    # a broadcasts there is no exchange before the pair scoring — the
    # whole O(N·target) cosine work serialized onto one task (10.5 s
    # single-task stage at sf0.1).  One narrow exchange restores the
    # salt mechanism's parallelism; no-op above SPREAD_MAX_ROWS where
    # the scan has real splits.
    v = spread_small(v, n_rows)
    # Every row carries ALL table buckets (bkt0..bktT-1, one int each)
    # so a pair colliding in several tables can be claimed by its FIRST
    # colliding table alone — the exact cosine is then computed once
    # per candidate pair instead of once per collision, and the final
    # distinct disappears (each unordered pair meets exactly once by
    # construction).  True near-dups collide in every table, so the
    # naive per-table enumeration did double (n_tables×) work exactly
    # on the rows that survive the threshold.  Output set is identical.
    v = v.withColumn("nrm", l2_norm(F.col("vec")))
    for t in range(n_tables):
        v = v.withColumn(
            f"bkt{t}", hyperplane_bits("vec", n_bits, dim, seed=f"hp{t}")
        )
    bkts = [f"bkt{t}" for t in range(n_tables)]
    v = v.withColumn(
        "t",
        F.explode(F.array(*[F.lit(t).cast("int") for t in range(n_tables)])),
    ).withColumn(
        "bkt",
        F.element_at(F.array(*[F.col(c) for c in bkts]), F.col("t") + 1),
    )
    a = v.select(F.col("vid").alias("a_id"), F.col("vec").alias("avec"),
                 F.col("nrm").alias("anrm"), "t", "bkt",
                 *[F.col(c).alias(f"a_{c}") for c in bkts]).withColumn(
        "salt", F.pmod(F.xxhash64(F.col("a_id")), F.lit(n_salts))
    )
    b = v.select(F.col("vid").alias("b_id"), F.col("vec").alias("bvec"),
                 F.col("nrm").alias("bnrm"), "t", "bkt",
                 *[F.col(c).alias(f"b_{c}") for c in bkts]).withColumn(
        "salt",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(n_salts - 1).cast("long"))),
    )
    # claimed by table t only if no earlier table already collided —
    # the predicate construction is shared with the minhash/simhash
    # banding (dedup.first_collision_claim), so the two paths cannot
    # silently diverge
    from .dedup import first_collision_claim

    first_collision = first_collision_claim("t", "a_bkt", "b_bkt", n_tables)
    return (
        a.join(b, ["t", "bkt", "salt"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(first_collision)
        .withColumn(
            "cosine",
            F.round(dot(F.col("avec"), F.col("bvec")) / (F.col("anrm") * F.col("bnrm")), 8),
        )
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
    )


def centroid_rows(emb: DataFrame, label_col: str = "label",
                  vec_col: str = "embedding") -> list:
    """Per-label mean centroids collected driver-side as
    (label, vector, norm) tuples, label-ascending.  Lists × dim
    doubles: always driver-safe; norms fold left-to-right, bit-identical
    to an in-plan fold.  The raw form exists so an index BUILD can
    persist the centroids as a JSON manifest and a later SEARCH can
    rebuild the identical literal (q_emb_ivf_persisted_topk)."""
    import math

    cent_long = centroids_by_label(emb, label_col=label_col, vec_col=vec_col)
    rows = cent_long.orderBy("label", "pos").collect()
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(int(r["label"]), []).append(float(r["centroid"]))
    cents = []
    for lbl, vec in sorted(by_label.items()):
        s = 0.0
        for x in vec:
            s += x * x
        cents.append((lbl, vec, math.sqrt(s)))
    return cents


def centroids_from_manifest(manifest: dict) -> list:
    """Rebuild centroid_rows' (label, vector, norm) tuples from a
    persisted JSON index manifest — the reload half shared by every
    persisted-index SEARCH (q_emb_ivf_persisted_topk /
    q_emb_ivfpq_persisted_topk).  Python JSON float round-trip is
    exact, so the rebuilt literals are bit-identical to the build's."""
    return [
        (int(c["label"]), [float(x) for x in c["vec"]], float(c["norm"]))
        for c in manifest["centroids"]
    ]


def centroid_rows_literal(cents: list) -> Column:
    """(label, vector, norm) tuples → ONE literal array column of
    (l, cv, cn) structs — assign_lists' zero-shuffle input.

    r13: the vectors ride as ONE packed nested-array literal zipped
    against per-centroid (l, cn) structs instead of |cents|·dim
    Literal nodes — same values, same struct field names/types (the
    small l/cn literals stay individual nodes so their types match the
    old construction exactly), ~dim× fewer expression-tree nodes for
    Catalyst to walk (the literal trees dominate driver planning time
    on this catalog, not the per-row math)."""
    # r14: the packed matrix parses as ONE SQL array literal —
    # PySpark's F.lit(list) maps lit() over every element (one py4j
    # round-trip each; ~0.7 s of the 2-3 s emb_* build times went to
    # exactly this), while F.expr of the _sql_mat text is a single
    # round-trip and the parsed literal is the identical
    # array<array<double>> (repr -> Double.parseDouble is an exact
    # IEEE round-trip, asserted finite in _sql_dbl).
    cvs = F.expr(_sql_mat([[float(c) for c in vec] for _lbl, vec, _nrm in cents]))
    meta = F.array(*[
        F.struct(F.lit(lbl).alias("l"), F.lit(nrm).alias("cn"))
        for lbl, _vec, nrm in cents
    ])
    return F.zip_with(
        meta,
        cvs,
        lambda mc, cv: F.struct(
            mc["l"].alias("l"), cv.alias("cv"), mc["cn"].alias("cn")
        ),
    )


def centroid_literal_array(emb: DataFrame, label_col: str = "label",
                           vec_col: str = "embedding") -> Column:
    """Per-label mean centroids inlined as ONE literal array column of
    (l, cv, cn) structs — the zero-shuffle assignment input shared by
    ivf_topk and semdedup_keep.  Lists × dim doubles: always
    driver-safe; centroid norms fold left-to-right driver-side,
    bit-identical to an in-plan fold."""
    return centroid_rows_literal(centroid_rows(emb, label_col, vec_col))


def assign_lists(df: DataFrame, cent_arr: Column, out_id: str,
                 vec_out: str, keep_n: int,
                 with_rank: bool = False) -> DataFrame:
    """Tag every row of ``df`` (must carry ``out_id``, ``vec_out`` as
    array<double>, and ``nrm``) with its ``keep_n`` nearest centroid
    lists by coarse cosine (6dp round, label tie-break) — a pure
    projection over the centroid literal, zero shuffle, no join.
    ``with_rank`` adds the 1-based ``probe_rank`` of each list, so ONE
    keep_n=max assignment can serve every smaller nprobe by filtering
    (``probe_rank <= n`` ≡ assigning with keep_n=n)."""
    scored = F.transform(
        cent_arr,
        lambda c: F.struct(
            F.round(
                dot(F.col(vec_out), c["cv"]) / (F.col("nrm") * c["cn"]), 6
            ).alias("ccos"),
            c["l"].alias("l"),
        ),
    )
    top = F.slice(
        F.array_sort(
            scored,
            lambda x, y: F.when(x["ccos"] > y["ccos"], F.lit(-1))
            .when(x["ccos"] < y["ccos"], F.lit(1))
            .otherwise(x["l"] - y["l"])
            .cast("int"),
        ),
        1,
        keep_n,
    )
    base = df.withColumn("_lists", top)
    if with_rank:
        return base.select(
            out_id,
            vec_out,
            "nrm",
            F.posexplode(F.col("_lists").getField("l")).alias(
                "_pos", "list_label"
            ),
        ).select(
            out_id, vec_out, "nrm", "list_label",
            (F.col("_pos") + 1).alias("probe_rank"),
        )
    return base.select(
        out_id,
        vec_out,
        "nrm",
        F.explode(F.col("_lists").getField("l")).alias("list_label"),
    )


def ivf_topk_multi(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    spread_rows: int | None = None,
) -> DataFrame:
    """``ivf_topk`` evaluated at SEVERAL nprobe settings for the cost
    of ONE: the expensive work — centroid assignment of the corpus and
    the list-bucketed candidate⋈query scoring — runs once at
    keep_n=max(nprobes) with a probe rank, is checkpointed, and each
    setting is then a filter (``probe_rank <= n``) plus its own top-k
    window over the already-scored candidates.  Per-slice output is
    EXACTLY ivf_topk(nprobe=n) (pinned by a parity test); rows carry a
    leading ``nprobe`` column.  This is the audit-sweep pattern: a
    parameter curve must not cost |settings| corpus passes.

    ``spread_rows`` (caller's footer count) gates the r13 small-corpus
    spread of the candidate side plus the query-keyed pre-partition of
    the scored relation — see ivfpq_topk_multi for the rationale; the
    centroid pass reads the unspread scan."""
    cent_arr = centroid_literal_array(emb, label_col=label_col, vec_col=vec_col)
    cand = spread_small(emb, spread_rows).select(
        F.col(id_col).alias("cand_id"), _as_double(vec_col).alias("cvec2")
    )
    cand = cand.withColumn("nrm", l2_norm(F.col("cvec2")))
    cand_lists = assign_lists(cand, cent_arr, "cand_id", "cvec2", 1).withColumnRenamed("nrm", "cnrm")
    q = queries.select(F.col("query_id"), F.col("query_vec").cast("array<double>").alias("qvec"))
    q = q.withColumn("nrm", l2_norm(F.col("qvec")))
    q_lists = assign_lists(
        q, cent_arr, "query_id", "qvec", max(nprobes), with_rank=True
    ).withColumnRenamed("nrm", "qnrm")
    scored = (
        cand_lists.join(F.broadcast(q_lists), "list_label")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(dot(F.col("qvec"), F.col("cvec2")) / (F.col("qnrm") * F.col("cnrm")), 8),
        )
        .select("query_id", "cand_id", "cosine", "probe_rank")
        .transform(lambda d: spread_small_by(d, spread_rows, "query_id"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    legs = []
    for n in nprobes:
        legs.append(
            scored.filter(F.col("probe_rank") <= n)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(
                F.lit(n).cast("long").alias("nprobe"),
                "query_id", "cand_id", "cosine", F.col("rk").alias("rk"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def ivfpq_topk_multi(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4),
    ms: tuple[int, ...] = (4, 8),
    dim: int = 64,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    spread_rows: int | None = None,
) -> DataFrame:
    """The IVF-ADC search (q_emb_ivfpq_topk's composition) evaluated at
    EVERY (m, nprobe) setting for the cost of ONE corpus pass — the
    ivf_topk_multi audit-sweep pattern extended to the combined tier:
    the corpus is coarse-assigned once and PQ-encoded once per m (all
    code columns in the same projection, still zero shuffle); each
    panel query carries its probe ranks up to max(nprobes) and one
    precomputed ADC LUT per m; ONE broadcast equi-join on list_label
    scores every candidate pair under every m simultaneously; then
    each (m, nprobe) slice is a filter (probe_rank <= n) plus its own
    top-k window over the checkpointed scores.  Per-slice output is
    EXACTLY the ivfpq search at that setting (m=4, nprobe=2 equals
    emb_ivfpq_topk — pinned by a parity test); rows carry leading
    (m, nprobe) columns."""
    assert all(dim % m == 0 for m in ms)
    cent_arr = centroid_literal_array(emb, label_col=label_col, vec_col=vec_col)
    cbs = {m: pq_det_codebooks(m=m, k=n_codes, d_sub=dim // m) for m in ms}
    # spread the CANDIDATE side only (r13): a small corpus scans as one
    # parquet split, so the whole coarse-assign + PQ-encode + ADC
    # scoring chain downstream of the broadcast join would run on a
    # single task; the per-row work here is large (two m-subspace code
    # folds plus a per-pair LUT sum), which is exactly the gated-spread
    # case.  The centroid pass above reads the UNSPREAD scan — its
    # distributed avg never sees a partitioning change.
    cand = spread_small(emb, spread_rows).select(
        F.col(id_col).alias("cand_id"), _as_double(vec_col).alias("cvec")
    ).withColumn("nrm", l2_norm(F.col("cvec")))
    cand_codes = assign_lists(cand, cent_arr, "cand_id", "cvec", 1).select(
        "cand_id",
        "list_label",
        *[pq_code_expr("cvec", cbs[m]).alias(f"code{m}") for m in ms],
    )
    q = queries.select(
        F.col("query_id"), F.col("query_vec").cast("array<double>").alias("qvec")
    ).withColumn("nrm", l2_norm(F.col("qvec")))
    q_probe = assign_lists(
        q, cent_arr, "query_id", "qvec", max(nprobes), with_rank=True
    ).select("query_id", "list_label", "probe_rank")
    q_lut = q.select(
        "query_id",
        *[pq_lut_expr("qvec", cbs[m]).alias(f"lut{m}") for m in ms],
    )
    panel = q_probe.join(q_lut, "query_id")
    # Pre-partition the scored pairs BY QUERY before checkpointing
    # (small-corpus gated): every (m, nprobe) leg below re-ranks this
    # relation under a Window.partitionBy("query_id"), and without an
    # explicit keyed exchange each leg inserts its own window exchange
    # which AQE then coalesces to ONE partition (the relation is only a
    # few MB) — at local[32] that left the six top-k passes as six
    # ~1.9 s single-task stages (r13 profile).  One hash exchange here
    # makes every leg's window exchange-free AND |cores|-wide; row
    # order within a partition never reaches results (row_number ties
    # break on cand_id).  Above the spread gate the relation is
    # data-scale and the legs' own adaptive exchanges stay.
    scored = (
        cand_codes.join(F.broadcast(panel), "list_label")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            "probe_rank",
            *[
                F.round(
                    pq_adc_from_lut(f"lut{m}", f"code{m}", m), 6
                ).alias(f"adc{m}")
                for m in ms
            ],
        )
        .transform(lambda d: spread_small_by(d, spread_rows, "query_id"))
        .localCheckpoint(eager=False)
    )
    legs = []
    for m in ms:
        w = Window.partitionBy("query_id").orderBy(
            F.col(f"adc{m}").asc(), F.col("cand_id").asc()
        )
        for n in nprobes:
            legs.append(
                scored.filter(F.col("probe_rank") <= n)
                .withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= k)
                .select(
                    F.lit(m).cast("long").alias("m"),
                    F.lit(n).cast("long").alias("nprobe"),
                    "query_id",
                    "cand_id",
                    F.col(f"adc{m}").alias("adc"),
                    F.col("rk").cast("long").alias("rk"),
                )
            )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def semdedup_keep(
    emb: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_salts: int = 8,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster embeddings,
    compute pairwise cosine WITHIN each cluster only, and keep one
    representative per semantic near-dup group — (vec_id, list_label,
    keep) where keep is false iff a same-cluster vector with a smaller
    id has cosine ≥ threshold (the same dominated-pair keep rule as
    corpus_keep_best).

    Scale posture: assignment to the nearest centroid is a zero-shuffle
    literal projection (centroid_literal_array — at web scale the
    centroids come from a k-means pass, same machinery); the |N|² pair
    work collapses to within-cluster self-joins, and the cluster-key
    join is salted exactly like embedding_cosine_pairs (side a salted,
    side b replicated per salt) so ~n_lists join keys still spread
    over n_lists·n_salts tasks.  Tightening clusters (more centroids)
    is the knob that bounds per-task pair work — identical to IVF's
    list-count trade."""
    cent_arr = centroid_literal_array(emb, label_col=label_col, vec_col=vec_col)
    v = emb.select(F.col(id_col).alias("vid"), _as_double(vec_col).alias("vec"))
    v = v.withColumn("nrm", l2_norm(F.col("vec")))
    assigned = assign_lists(v, cent_arr, "vid", "vec", 1)
    a = assigned.select(
        F.col("vid").alias("a_id"), F.col("vec").alias("avec"),
        F.col("nrm").alias("anrm"), "list_label",
    ).withColumn("salt", F.pmod(F.xxhash64(F.col("a_id")), F.lit(n_salts)))
    b = assigned.select(
        F.col("vid").alias("b_id"), F.col("vec").alias("bvec"),
        F.col("nrm").alias("bnrm"), "list_label",
    ).withColumn(
        "salt",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_salts - 1).cast("long"))
        ),
    )
    removed = (
        a.join(b, ["list_label", "salt"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("avec"), F.col("bvec"))
                / (F.col("anrm") * F.col("bnrm")),
                8,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("b_id").alias("rm_id"))
        .distinct()
    )
    return (
        assigned.join(removed, assigned["vid"] == removed["rm_id"], "left")
        .select(
            F.col("vid").alias("vec_id"),
            "list_label",
            F.col("rm_id").isNull().alias("keep"),
        )
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: coarse quantize to centroid lists, probe the
    query's ``nprobe`` nearest lists, exact top-k within.

    Centroids are the per-label means (10-ish lists here; at scale a
    k-means pass).  They are tiny by construction — collected once and
    **inlined as plan literals**, so list assignment is a pure
    projection: per row, an ``array_sort`` over the literal
    (label, centroid, norm) structs by coarse cosine.  ZERO shuffle and
    no join for the assignment of the full corpus — the earlier
    crossJoin + per-id window formulation shuffled every vector twice;
    this shuffles none (the only remaining exchanges are the final
    candidate⋈query bucket join + the per-query top-k window).
    Centroid norms fold left-to-right driver-side, bit-identical to the
    in-plan fold.  The query side probes ``nprobe`` lists to trade
    recall for cost.
    Output: (query_id, cand_id, cosine, rk) like the other ANN ops.
    """
    cent_arr = centroid_literal_array(emb, label_col=label_col, vec_col=vec_col)
    cand = emb.select(F.col(id_col).alias("cand_id"), _as_double(vec_col).alias("cvec2"))
    cand = cand.withColumn("nrm", l2_norm(F.col("cvec2")))
    cand_lists = assign_lists(cand, cent_arr, "cand_id", "cvec2", 1).withColumnRenamed("nrm", "cnrm")
    q = queries.select(F.col("query_id"), F.col("query_vec").cast("array<double>").alias("qvec"))
    q = q.withColumn("nrm", l2_norm(F.col("qvec")))
    q_lists = assign_lists(q, cent_arr, "query_id", "qvec", nprobe).withColumnRenamed("nrm", "qnrm")
    return ivf_rank_topk(cand_lists, q_lists, k=k, cand_vec="cvec2")


def centroids_by_label(emb: DataFrame, label_col: str = "label",
                       vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Per-label centroid, long form: (label, pos, centroid) — the
    elementwise mean via posexplode + groupBy, one shuffle."""
    exploded = emb.select(
        F.col(label_col), F.posexplode(_as_double(vec_col)).alias("pos", "v")
    )
    return (
        exploded.groupBy(label_col, "pos")
        .agg(F.round(F.avg("v"), 8).alias("centroid"))
    )


def sq8_quantize(vec) -> Column:
    """int8 scalar quantization with a fixed [-1, 1] → [-127, 127]
    scale: ``floor(clip(x)·127 + 0.5)``.  floor (not round) so the
    half-way tie rule can't diverge between engines (Spark ROUND is
    half-up, DuckDB half-even); identical doubles → identical codes."""
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        c,
        lambda x: F.floor(
            F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x.cast("double"))) * 127
            + F.lit(0.5)
        ).cast("long"),
    )


def sq8_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by int8 scalar-quantized dot product — the
    memory-bandwidth-bound ANN path: 8-bit codes cut vector bytes 4-8×
    and the integer dot products are EXACT, so ranking (and the
    cross-engine compare) has no float-summation ambiguity at all.

    Same join/rank shape as ``cosine_topk`` (broadcast queries,
    per-query window top-k); recall vs exact cosine is bounded by the
    quantization error.  At 100 TB the codes column is written once
    (a narrow byte array beside the float vectors) and scanned instead
    of them."""
    cand = emb.select(
        F.col(id_col).alias("cand_id"), sq8_quantize(vec_col).alias("cq")
    )
    q = queries.select(
        F.col("query_id"), sq8_quantize("query_vec").alias("qq")
    )
    dot_q8 = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = cand.join(
        F.broadcast(q), F.col("cand_id") != F.col("query_id")
    ).withColumn("dot_q8", dot_q8)
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q8").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "dot_q8", "rk")
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    max_iter: int = 5,
) -> tuple[list, list, list, int, list]:
    """Product-quantization TRAINING (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the ``dim``-wide
    vector into ``m`` contiguous subvectors and fit an independent
    seeded k-means codebook of ``k`` centroids per subspace —
    distributed Lloyd's via Spark ML, one fit per subspace over a
    projected slice (the corpus is scanned, never collected).

    Returns ``(codebooks, costs, sub_total_ss, n_points, sizes_ok)``
    where ``codebooks[s][j]`` is subspace ``s``'s ``j``-th centroid
    (list of dim/m floats), ``costs[s]`` the fit's within-cluster SS,
    ``sub_total_ss[s]`` the subspace's total SS around its mean
    (the k=1 optimum — the same cost_le_total_ss invariant anchor as
    ``q_emb_kmeans_centroids``, computed per subspace in ONE
    distributed pass via the Σv/Σv² identity), and ``sizes_ok[s]``
    whether the fit's cluster sizes partition the corpus — surfaced as
    a FLAG (the caller's oracle pins it TRUE) rather than raised, so a
    violation shows up as a hash-mismatched row, not a query crash.

    Codebooks are m·k·(dim/m) doubles — dim·k total (16 KiB at
    dim=64, k=16): always driver- and broadcast-safe, which is the
    entire point of PQ at 100 TB (the corpus is stored as m small ints
    per vector; only the codebooks ride with the query)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    assert dim % m == 0, "dim must split evenly into m subspaces"
    d_sub = dim // m
    arr = emb.select(_as_double(vec_col).alias("e")).cache()
    try:
        n_points = arr.count()
        # per-(subspace, position) moments in one scan -> per-subspace SS
        stats = (
            arr.select(F.posexplode("e").alias("pos", "v"))
            .groupBy((F.col("pos") / d_sub).cast("int").alias("s"), "pos")
            .agg(F.sum("v").alias("sv"),
                 F.sum(F.col("v") * F.col("v")).alias("svv"),
                 F.count(F.lit(1)).alias("n"))
            .collect()
        )
        sub_total_ss = [0.0] * m
        for r in stats:
            sub_total_ss[int(r["s"])] += r["svv"] - (r["sv"] * r["sv"]) / r["n"]
        # The m subspace fits are INDEPENDENT jobs over the same cached
        # corpus — run them from a small thread pool (guide §2.6:
        # overlap independent jobs so one fit's straggler tail
        # back-fills with the next fit's tasks) instead of serially
        # queueing m × (init + maxIter) barrier rounds.  Each fit's
        # input, seed and iteration count are unchanged, so the
        # centroids/costs/sizes are bit-identical to the serial loop.
        from concurrent.futures import ThreadPoolExecutor

        from ..session import inherit_local_properties

        def _fit(s: int):
            feats = arr.select(
                array_to_vector(F.slice("e", s * d_sub + 1, d_sub)).alias("features")
            )
            model = KMeans(k=k, seed=seed + s, maxIter=max_iter).fit(feats)
            sizes = [int(x) for x in model.summary.clusterSizes]
            return (
                sum(sizes) == n_points,
                [[float(x) for x in c] for c in model.clusterCenters()],
                float(model.summary.trainingCost),
            )

        with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
            fits = list(pool.map(
                inherit_local_properties(emb.sparkSession.sparkContext, _fit),
                range(m),
            ))
        sizes_ok = [f[0] for f in fits]
        codebooks = [f[1] for f in fits]
        costs = [f[2] for f in fits]
    finally:
        # unpersist on every path — a failed fit must not pin the
        # double-cast corpus in the long-lived shared session
        arr.unpersist()
    return codebooks, costs, sub_total_ss, n_points, sizes_ok


# ---------------------------------------------------------------------------
# PQ expression builders: SQL text in, one F.expr out
# ---------------------------------------------------------------------------
# Every PQ/IVF expression is generated as ONE SQL string and parsed
# JVM-side in a single py4j call.  Spelled Column-by-Column the same
# expression costs one round-trip per operation (~1 s of pure
# Python/py4j time per pq_code_expr on the r13 bench host, 1019 →
# 129 ms once spelled as text).  Callers pass their input columns as
# SQL text (a column name or fragment such as
# ``cast(embedding as array<double>)``).  The codebooks ride as packed
# ``_sql_mat`` literals (exact IEEE round-trip, see ``_sql_dbl``), and
# every squared distance is the ``_sql_l2sq_fold`` left fold, so the
# ADC lookup, the LUT entries and the decode select bit-identical
# values.  tests/test_properties.py pins each builder to a pure-Python
# reference doing the same folds in the same element order on IEEE
# doubles, compared with ``==``.

def _sql_dbl(x: float) -> str:
    """Exact SQL double literal: ``repr`` is the shortest round-trip
    form, and the SQL parser's Double.parseDouble returns the
    identical IEEE double."""
    import math

    assert math.isfinite(float(x))
    return repr(float(x)) + "D"


def _sql_arr(vals) -> str:
    return "array(" + ",".join(_sql_dbl(x) for x in vals) + ")"


def _sql_mat(rows) -> str:
    return "array(" + ",".join(_sql_arr(r) for r in rows) + ")"


def _sql_l2sq_fold(a_ref: str, b_ref: str) -> str:
    """||a − b||² as a left-to-right fold — the ONE squared-distance
    construction every PQ expression uses: (x−y)·(x−y) terms added to
    a 0.0D seed in element order (mirrored by
    queries._pq_sub_dist_sql)."""
    return (f"aggregate(zip_with({a_ref}, {b_ref}, "
            f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)")


def pq_code_expr(vec: str, codebooks: list) -> Column:
    """Encode ``vec`` (SQL text of an array<double>) to its PQ code —
    array<int> of length m, ``code[s]`` = index of subspace s's
    nearest centroid by L2, the lower index winning a tie.  The
    codebooks ride as PLAN LITERALS, so encoding the full corpus is a
    pure zero-shuffle projection — the same scale mechanism as
    ``assign_lists`` / ``sq8_quantize``: the 100 TB corpus is written
    once as m bytes per vector.  Per subspace, the (d, j) structs are
    sorted by distance then index and the first j is kept."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    codes = []
    for s in range(m):
        sub = f"slice({vec}, {s * d_sub + 1}, {d_sub})"
        idxs = "array(" + ",".join(str(j) for j in range(len(codebooks[s]))) + ")"
        fold = _sql_l2sq_fold(sub, "cv")
        scored = (f"zip_with({_sql_mat(codebooks[s])}, {idxs}, "
                  f"(cv, j) -> named_struct('d', {fold}, 'j', j))")
        codes.append(
            f"array_sort({scored}, (x, y) -> CAST(CASE WHEN x.d < y.d THEN -1 "
            f"WHEN x.d > y.d THEN 1 ELSE x.j - y.j END AS INT))[0].j"
        )
    return F.expr("array(" + ",".join(codes) + ")")


def pq_adc_expr(vec: str, code: str, codebooks: list) -> Column:
    """Asymmetric-distance computation: ||q − decode(code)||² as the
    sum of per-subspace lookup terms — LUT_s[j] = ||q_sub − c_sj||²
    evaluated against the literal codebooks, selected by ``code[s]``,
    added to a 0.0D seed left to right.  This is the
    per-subspace-partials formulation (ADC proper); its float addition
    order differs from a whole-vector fold, which is exactly what
    ``q_emb_pq_train_report``'s consistency flag exploits to verify
    the lookup path against a direct decode.  ``vec`` and ``code``
    are SQL text."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    total = "0.0D"
    for s in range(m):
        sub = f"slice({vec}, {s * d_sub + 1}, {d_sub})"
        cv = f"element_at({_sql_mat(codebooks[s])}, {code}[{s}] + 1)"
        total = f"{total} + {_sql_l2sq_fold(sub, cv)}"
    return F.expr(total)


def pq_lut_expr(vec: str, codebooks: list) -> Column:
    """Per-QUERY ADC lookup table — LUT[s][j] = ||q_sub_s − c_sj||²,
    an array<array<double>> computed ONCE per query row (m·k folds).
    This is ADC as Jégou et al. actually run it: the query pays the
    table build once, and every candidate pair is then m array
    lookups instead of m·d_sub multiply-adds (pq_adc_from_lut).  Each
    entry is the SAME ``_sql_l2sq_fold`` over the same elements in the
    same order as pq_adc_expr's inline form, so selecting
    LUT[s][code_s] is bit-identical to computing the term per pair —
    the oracle SQL (queries._pq_adc_sql) needs no change.  ``vec`` is
    SQL text."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    parts = []
    for s in range(m):
        sub = f"slice({vec}, {s * d_sub + 1}, {d_sub})"
        parts.append(
            f"transform({_sql_mat(codebooks[s])}, cv -> {_sql_l2sq_fold(sub, 'cv')})"
        )
    return F.expr("array(" + ",".join(parts) + ")")


def pq_adc_from_lut(lut: str, code: str, m: int) -> Column:
    """ADC from a precomputed per-query LUT: Σ_s LUT[s][code_s],
    partials added to a 0.0D seed left to right — the pair-scoring
    half of pq_lut_expr, bit-identical to pq_adc_expr.  ``lut`` and
    ``code`` are SQL text."""
    total = "0.0D"
    for s in range(m):
        total = f"{total} + element_at({lut}[{s}], {code}[{s}] + 1)"
    return F.expr(total)


def pq_adc_rank(cand: DataFrame, q_lut: DataFrame, m: int, k_nn: int = 5,
                on: str | None = None) -> DataFrame:
    """The PQ SEARCH half, shared by every ADC query so ranking
    semantics (6dp round, ADC ascending, cand_id tie-break) exist
    exactly once: broadcast the per-query LUT panel onto the codes
    relation, score each pair with m lookups, keep each query's
    top-k.  ``on=None`` joins the full panel (non-equi self-exclusion
    → BroadcastNestedLoopJoin, right for a bounded panel);
    ``on="list_label"`` is the IVF-pruned equi-join form.
    ``cand``: (cand_id, code [, on]); ``q_lut``: (query_id, lut [, on]).
    Output: (query_id, cand_id, adc, rk ≤ k_nn)."""
    if on is None:
        joined = cand.join(
            F.broadcast(q_lut), F.col("cand_id") != F.col("query_id")
        )
    else:
        joined = cand.join(F.broadcast(q_lut), on).filter(
            F.col("cand_id") != F.col("query_id")
        )
    scored = joined.withColumn(
        "adc", F.round(pq_adc_from_lut("lut", "code", m), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k_nn)
        .select("query_id", "cand_id", "adc", F.col("rk").cast("long").alias("rk"))
    )


def ivf_rank_topk(cand_lists: DataFrame, q_lists: DataFrame, k: int = 5,
                  cand_vec: str = "cvec", q_vec: str = "qvec") -> DataFrame:
    """The IVF SEARCH half, shared by ivf_topk (in-flight assignment)
    and the persisted-lists query: broadcast the probed query panel
    onto the inverted lists, exact cosine within matching lists,
    per-query top-k (8dp round, cosine descending, cand_id
    tie-break).  ``cand_lists``: (cand_id, <cand_vec>, cnrm,
    list_label); ``q_lists``: (query_id, <q_vec>, qnrm, list_label)."""
    scored = (
        cand_lists.join(F.broadcast(q_lists), "list_label")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col(q_vec), F.col(cand_vec)) / (F.col("qnrm") * F.col("cnrm")),
                8,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "cosine", F.col("rk").cast("long").alias("rk"))
    )


def pq_decode_expr(code: str, codebooks: list) -> Column:
    """Reconstruct the quantized vector: concat of the selected
    centroid per subspace, in subspace order (array<double> of the
    original dim).  ``code`` is SQL text."""
    parts = [
        f"element_at({_sql_mat(cb)}, {code}[{s}] + 1)"
        for s, cb in enumerate(codebooks)
    ]
    return F.expr(parts[0] if len(parts) == 1 else "concat(" + ",".join(parts) + ")")


def pq_det_codebooks(m: int = 4, k: int = 16, d_sub: int = 16,
                     seed: str = "pq", scale: float = 0.1) -> list:
    """DETERMINISTIC pseudo-random PQ codebooks — md5-derived like
    ``hyperplane_weight``, computed driver-side so the exact same
    float literals ride in the Spark plan AND in the DuckDB oracle SQL
    (``queries._pq_*_sql`` imports this same function).  This is the
    hash-exact complement of the LEARNED ``pq_codebooks``: learned
    codebooks cannot be reproduced in SQL, so the searched path is
    verified end-to-end with fixed codebooks while the k-means quality
    invariants live in ``q_emb_pq_train_report``.  ``scale`` pulls the
    [-1, 1) raw weights into the embedding magnitude range."""
    import hashlib

    def w(s: int, j: int, t: int) -> float:
        h = int(hashlib.md5(f"{seed}:{s}:{j}:{t}".encode()).hexdigest()[:8], 16)
        return (h % 2001 - 1000) / 1000.0 * scale

    return [
        [[w(s, j, t) for t in range(d_sub)] for j in range(k)]
        for s in range(m)
    ]
