"""Corpus curation: training-corpus shaping over ``documents`` —
budgets, packing, sharding, sampling and mixing, decontamination,
dedup keep-best and reports, DSIR selection and CCNet bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.curation import (
    blocklist_filter,
    bloom_decontaminate,
    corpus_profile,
    dsir_resample,
    dsir_select,
    dup_clusters,
    hash_split,
    interleave_sources,
    keep_best_per_pair,
    ngram_contamination_split,
    pack_sequences,
    shard_divergence,
    source_quota,
    stratified_sample,
    token_budget_sample,
)
from ..operators.dedup import content_fingerprints, ngram_jaccard_pairs, ngram_rep_edges
from ..operators.ordering import (
    RANGE_RANK_MIN_ROWS,
    range_partitioned_measures,
    range_partitioned_row_number,
    range_partitioned_running_sum,
)
from ..operators.text import (
    BPE_MERGES,
    BPE_WHITESPACE,
    bpe_piece_count,
    cross_engine_hash,
    per_distinct_text,
    quality_score,
    tokens,
    with_bpe_piece_count,
)
from ..sources.readers import collapse_dial, table_row_count
from .core import _t
from .text import _TOKS, _hash_sql, _quality_sql, q_doc_bigram_perplexity
from .dedup import _SHINGLES_SQL

ORACLES: dict[str, str] = {}


def q_corpus_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 train/val/test split; output = per-split doc
    counts (split assignment is stable under corpus growth)."""
    out = hash_split(_t(spark, sf_dir, "documents"))
    return out.groupBy("split").agg(F.count("*").alias("n_docs"))


ORACLES["corpus_hash_split"] = """
        WITH b AS (
          SELECT ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                   AS bucket
          FROM documents
        )
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs
        FROM b GROUP BY 1
    """


def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked selection under a global token budget (running-sum
    window over (quality desc, doc_id))."""
    q = quality_score(_t(spark, sf_dir, "documents"))
    # output needs only the narrow checkpointed columns — skip the
    # join-back's wasted corpus re-scan (round-11, see the operator)
    sel = token_budget_sample(q, budget_tokens=100_000, join_back=False)
    return sel.select(
        "doc_id", "n_tokens", "quality", F.col("running_tokens").cast("long").alias("running_tokens")
    )


ORACLES["corpus_token_budget"] = f"""
    WITH q AS ({_quality_sql()}),
    r AS (
      SELECT doc_id, n_tokens, quality,
             SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS running_tokens
      FROM q
    )
    SELECT doc_id, n_tokens, quality, CAST(running_tokens AS BIGINT) AS running_tokens
    FROM r WHERE running_tokens <= 100000 OR running_tokens = n_tokens
"""

# Shard count for the training-order manifest, shared by the Spark
# query and its DuckDB oracle so retuning cannot desynchronize them.
_MANIFEST_SHARDS = 16


def q_corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle + shard manifest —
    the step between curation and the training job: every document gets
    a pseudo-random but REPRODUCIBLE order key (md5 of its id under a
    fixed salt), a shard assignment derived from the same digest, its
    1-based position within the shard, and its exclusive token offset
    (where the doc starts if the shard is written as one token stream).
    A shard writer needs exactly (shard, pos, offset); re-running on
    the same corpus reproduces the same bytes.

    Spark-first: both ordered measures — position AND running token
    offset — come from ONE range shuffle via
    ``operators.ordering.range_partitioned_measures`` (the multi-
    measure form of the two-pass zipWithIndex formulation): no
    ``Exchange SinglePartition``, no second corpus pass for the second
    measure, and the per-shard ordering never funnels a shard through
    one reducer the way a plain ``Window.partitionBy(shard)`` would at
    16 shards × terabytes.  The md5 order key is the cross-engine hash
    family (operators.text), so the DuckDB oracle reproduces order,
    shards, and offsets bit-exactly.

    No counterpart in the reference (its outputs are per-site CSVs,
    JobRunner.scala:31-73); this is the LLM-pipeline extension's
    shard-layout op."""
    docs = _t(spark, sf_dir, "documents")
    return _shard_manifest_frame(_shard_keys_frame(docs))


# Training-order shuffle + shard manifest: the order key and shard come
# from the same md5 as the Spark side (cross-engine hash family), so
# order, shard assignment, positions, and token offsets are bit-exact.
ORACLES["corpus_shard_manifest"] = f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             md5(concat('shuffle:', CAST(doc_id AS VARCHAR))) AS order_key
      FROM documents
    ),
    s AS (
      SELECT *,
             ('0x' || substr(order_key, 1, 8))::BIGINT % {_MANIFEST_SHARDS}
               AS shard
      FROM t
    )
    SELECT doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY order_key, doc_id
           ) AS BIGINT) AS pos,
           n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY order_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS offset_tokens
    FROM s
"""


def _shard_keys_frame(docs: DataFrame) -> DataFrame:
    """Narrow (doc_id, n_tokens, order_key, shard) projection shared by
    the manifest queries: one md5 per doc serves both the training-
    order key and (via its first 8 hex chars, the cross-engine 32-bit
    slice) the shard assignment."""

    order_key = F.md5(
        F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string"))
    )
    shard = (
        F.conv(F.substring(order_key, 1, 8), 16, 10).cast("long")
        % _MANIFEST_SHARDS
    )
    return docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        order_key.alias("order_key"),
        shard.alias("shard"),
    )


def _shard_manifest_frame(narrow: DataFrame) -> DataFrame:
    """(doc_id, shard, pos, n_tokens, offset_tokens) from a
    _shard_keys_frame projection: both ordered measures via ONE range
    shuffle (range_partitioned_measures)."""

    out = range_partitioned_measures(
        narrow,
        [F.col("order_key"), F.col("doc_id")],
        [
            ("row_number", None, "pos"),
            ("running_sum", "n_tokens", "_run_tokens"),
        ],
        group_cols=["shard"],
        # the narrow lineage tokenizes every document body — evaluate
        # it once, not once per ordering job (see token_budget_sample)
        materialize_input=True,
    )
    return out.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        F.col("pos").cast("long").alias("pos"),
        "n_tokens",
        (F.col("_run_tokens") - F.col("n_tokens"))
        .cast("long")
        .alias("offset_tokens"),
    )


def q_corpus_shard_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-manifest APPEND: extend an existing sharded corpus layout
    with a new batch WITHOUT touching the base shards — the property a
    production training-data store actually needs, because re-running
    the full shuffle on corpus growth would rewrite every shard and
    invalidate the training order already consumed.

    Semantics (mirrors the emb_ivfpq_append_topk discipline — append
    must not reshuffle what it extends): base docs (``doc_id % 10 !=
    0``, standing in for the persisted corpus) keep their manifest
    verbatim; batch docs (``% 10 == 0``) are ordered among THEMSELVES
    by the same md5 key and appended after each shard's tail —
    ``pos += base_count(shard)``, ``offset += base_tokens(shard)``.

    The scale story is the cost shape: the ordering machinery (range
    shuffle + window) runs over the BATCH ONLY, and the base corpus
    contributes exactly one 16-row aggregate (count + token sum per
    shard — at 100 TB that aggregate is a footer read of the persisted
    manifest, not even a scan; here it is computed so the oracle can
    pin the math).  Append cost ∝ batch, never ∝ corpus.  Output: the
    batch's manifest rows with their global (shard, pos, offset)."""
    docs = _t(spark, sf_dir, "documents")
    keys = _shard_keys_frame(docs)
    is_batch = F.col("doc_id") % 10 == 0
    # per-shard tails of the base layout: a bounded 16-row relation —
    # no ordering pass over the base (pos_max ≡ count; offset_end ≡
    # token sum), broadcast onto the batch manifest
    tails = (
        keys.filter(~is_batch)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("_base_n"),
            F.sum("n_tokens").alias("_base_tokens"),
        )
    )
    batch = _shard_manifest_frame(keys.filter(is_batch))
    out = batch.join(F.broadcast(tails), "shard", "left")
    return out.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        (F.col("pos") + F.coalesce(F.col("_base_n"), F.lit(0)))
        .cast("long")
        .alias("pos"),
        "n_tokens",
        (
            F.col("offset_tokens")
            + F.coalesce(F.col("_base_tokens"), F.lit(0))
        )
        .cast("long")
        .alias("offset_tokens"),
    )


# Append = the batch's own per-shard manifest shifted by the base
# layout's per-shard tails (count ≡ max pos, token sum ≡ end offset) —
# the base is never re-ordered, pinning the "append must not reshuffle
# what it extends" contract in the hash.
ORACLES["corpus_shard_append"] = f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             md5(concat('shuffle:', CAST(doc_id AS VARCHAR))) AS order_key
      FROM documents
    ),
    s AS (
      SELECT *,
             ('0x' || substr(order_key, 1, 8))::BIGINT % {_MANIFEST_SHARDS}
               AS shard
      FROM t
    ),
    tails AS (
      SELECT shard, COUNT(*) AS base_n, SUM(n_tokens) AS base_tokens
      FROM s WHERE doc_id % 10 != 0 GROUP BY shard
    ),
    m AS (
      SELECT doc_id, shard, n_tokens,
             row_number() OVER (
               PARTITION BY shard ORDER BY order_key, doc_id
             ) AS pos,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY order_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS off
      FROM s WHERE doc_id % 10 = 0
    )
    SELECT m.doc_id,
           CAST(m.shard AS BIGINT) AS shard,
           CAST(m.pos + COALESCE(tails.base_n, 0) AS BIGINT) AS pos,
           m.n_tokens,
           CAST(m.off + COALESCE(tails.base_tokens, 0) AS BIGINT)
             AS offset_tokens
    FROM m LEFT JOIN tails ON m.shard = tails.shard
"""

# per-language sampling rates (percent) for the stratified-sample query:
# downsample dominant English, keep the tail languages whole.
STRAT_RATES = {"en": 30, "de": 80, "fr": 80, "es": 80, "zh": 100}

MIX_WEIGHTS = {"src0": 8, "src1": 4, "src2": 2}  # everything else weight 1


def q_corpus_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted round-robin source interleaving into one global
    training order (integer virtual positions — engine-exact)."""

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return interleave_sources(docs, "source", MIX_WEIGHTS)


ORACLES["corpus_interleave"] = """
    WITH w AS (
      SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 4
                         WHEN 'src2' THEN 2 ELSE 1 END AS wt,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents),
    v AS (SELECT doc_id, source,
                 CAST((rn - 1) * 720720 // wt AS BIGINT) AS vpos FROM w)
    SELECT doc_id, source, vpos,
           CAST(ROW_NUMBER() OVER (ORDER BY vpos, source, doc_id) AS BIGINT) AS mix_rank
    FROM v
"""


def q_corpus_keep_best_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-pairwise keep-best (the AUDIT variant of corpus_keep_best):
    drop every document dominated by an n-gram-Jaccard pair partner of
    higher quality (longer text; id tie-break).  The corpus is
    LEFT-ANTI filtered by a broadcast of the tiny dominated set — facts
    never shuffle.  Pair enumeration is Θ(K²) per K-clone group, so on
    a duplication-heavy corpus prefer the group-shaped default."""

    docs = _t(spark, sf_dir, "documents")
    with_q = docs.withColumn("q_len", F.length("text").cast("long"))

    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.05,
        # same footer gate as dedup_ngram_jaccard (round 12)
        collapse_distinct=collapse_dial(spark, sf_dir),
    )
    kept = keep_best_per_pair(with_q, pairs, "q_len")
    return kept.select("doc_id", "q_len")


ORACLES["corpus_keep_best_pairs"] = f"""
    WITH sh0 AS ({{shingles}}),
    freq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
           JOIN freq ON sh0.shingle = freq.shingle WHERE freq.df <= 1000),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a_id, b_id FROM (
        SELECT i.a_id, i.b_id,
               ROUND(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS j
        FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2) i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id)
      WHERE j >= 0.05),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
    q AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS q_len FROM documents),
    dominated AS (
      SELECT DISTINCT e.u AS doc_id FROM edges e
      JOIN q qu ON e.u = qu.doc_id
      JOIN q qv ON e.v = qv.doc_id
      WHERE qv.q_len > qu.q_len OR (qv.q_len = qu.q_len AND e.v < e.u))
    SELECT doc_id, CAST(length(text) AS BIGINT) AS q_len FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dominated)
""".format(shingles=_SHINGLES_SQL)


def q_corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test benchmark-contamination scan: train docs sharing any
    8-gram with a test doc (GPT-3 app. C methodology), via the
    deterministic hash split.  Grams are pre-hashed to 60-bit digests
    before the join (operators.curation.doc_ngrams — the
    oracle hashes identically, so parity holds, collisions included;
    at 10⁶ grams the odds of one are ~4·10⁻⁷)."""

    docs = hash_split(_t(spark, sf_dir, "documents"))
    return ngram_contamination_split(docs, n=8)


ORACLES["corpus_contamination"] = f"""
    WITH split AS (
      SELECT doc_id, text,
             {_hash_sql("CAST(doc_id AS VARCHAR)", seed="split")} % 100 AS b
      FROM documents),
    toks AS (SELECT doc_id, b, {_TOKS} AS w FROM split),
    grams AS (
      SELECT DISTINCT doc_id, b,
             ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT AS gram
      FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) t
      WHERE len(w) >= 8),
    tr AS (SELECT doc_id, gram FROM grams WHERE b < 80),
    te AS (SELECT doc_id AS test_id, gram FROM grams WHERE b >= 90)
    SELECT tr.doc_id,
           CAST(COUNT(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT te.test_id) AS BIGINT) AS n_test_docs
    FROM tr JOIN te ON tr.gram = te.gram
    GROUP BY tr.doc_id
"""

# Bloom-decontamination sizing, shared by the Spark query AND its
# DuckDB oracle f-string below — ONE definition, so retuning the
# filter cannot desynchronize the two engines' bit layouts.
_BLOOM_M = 1 << 18  # bits (power of two; KM shift = log2)

_BLOOM_K = 5        # positions per gram


def q_corpus_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination
    (operators.curation.bloom_decontaminate): the test split's 8-grams
    set k=5 Kirsch-Mitzenmacher positions in a 2¹⁸-bit space; train
    docs are probed against the broadcast SET-BIT table (≤ 2¹⁸ rows —
    bounded by a CONSTANT, not by data), so at 100 TB the huge train
    side never joins test text, only a fixed-size filter.  Per train
    doc: exact_hit (the verification twin the oracle also computes),
    bloom_hit (the filter's verdict), and the per-row one-sided-error
    invariant no_false_negative.  The filter is deterministic integer
    arithmetic on both engines, so the DuckDB oracle reproduces it
    EXACTLY — the hash check covers the false-positive behaviour too,
    not just an invariant flag."""

    docs = hash_split(_t(spark, sf_dir, "documents"))
    return bloom_decontaminate(docs, n=8, m_bits=_BLOOM_M, k=_BLOOM_K)


# The bloom oracle REBUILDS the filter: same 60-bit gram digests, same
# Kirsch-Mitzenmacher positions ((g % m + i*(((g >> 18) % (m/2))*2+1)) % m,
# all positive-integer shifts/mods — see operators.curation._km_positions),
# so bloom_hit matches Spark bit-for-bit, false positives included.
ORACLES["corpus_bloom_decontaminate"] = f"""
    WITH split AS (
      SELECT doc_id, text,
             {_hash_sql("CAST(doc_id AS VARCHAR)", seed="split")} % 100 AS b
      FROM documents),
    toks AS (SELECT doc_id, b, {_TOKS} AS w FROM split),
    grams AS (
      SELECT DISTINCT doc_id, b,
             ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT AS gram
      FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) t
      WHERE len(w) >= 8),
    tr AS (SELECT doc_id, gram FROM grams WHERE b < 80),
    te AS (SELECT DISTINCT gram FROM grams WHERE b >= 90),
    bits AS (
      SELECT DISTINCT
             (gram % {_BLOOM_M}
              + i * (((gram >> {_BLOOM_M.bit_length() - 1}) % {_BLOOM_M // 2}) * 2 + 1)
             ) % {_BLOOM_M} AS pos
      FROM te, LATERAL (SELECT unnest(range({_BLOOM_K})) AS i) x),
    hits AS (
      SELECT DISTINCT doc_id FROM (
        SELECT p.doc_id, p.gram
        FROM (SELECT tr.doc_id, tr.gram,
                     (tr.gram % {_BLOOM_M}
                      + i * (((tr.gram >> {_BLOOM_M.bit_length() - 1})
                              % {_BLOOM_M // 2}) * 2 + 1)
                     ) % {_BLOOM_M} AS pos
              FROM tr, LATERAL (SELECT unnest(range({_BLOOM_K})) AS i) x) p
        JOIN bits USING (pos)
        GROUP BY p.doc_id, p.gram
        HAVING COUNT(*) = {_BLOOM_K})),
    exact AS (SELECT DISTINCT tr.doc_id FROM tr JOIN te USING (gram)),
    ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(COALESCE(ng.n_grams, 0) AS BIGINT) AS n_grams,
           (e.doc_id IS NOT NULL) AS exact_hit,
           (h.doc_id IS NOT NULL) AS bloom_hit,
           ((h.doc_id IS NOT NULL) OR e.doc_id IS NULL) AS no_false_negative
    FROM (SELECT doc_id FROM split WHERE b < 80) s
    LEFT JOIN ng USING (doc_id)
    LEFT JOIN exact e USING (doc_id)
    LEFT JOIN hits h USING (doc_id)
"""


def _bpe_count_sql(expr: str) -> str:
    """DuckDB twin of operators.text.bpe_piece_count: the SAME merge
    table expanded into the same lower → replace chain → translate →
    length, generated from one source of truth so the engines cannot
    drift."""

    s = f"lower({expr})"
    for pair, sym in BPE_MERGES:
        s = f"replace({s}, '{pair}', '{sym}')"
    ws = " || ".join(f"chr({ord(c)})" for c in BPE_WHITESPACE)
    return f"length(translate({s}, {ws}, ''))"


def q_corpus_bpe_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked selection under a global TOKENIZER-FAITHFUL
    budget (round-9 verdict #7): the budget counts exact BPE pieces
    under the fixed merge table (operators.text.BPE_MERGES), not
    whitespace words — the unit an LLM training pipeline actually
    budgets in, where the ~1.2-1.5× piece-to-word drift flips keep/cut
    decisions near the boundary.  Same selection mechanism as
    corpus_token_budget (two-pass range-partitioned running sum, no
    SinglePartition window), with the piece count computed in the SAME
    corpus scan as the quality score (quality_score keep_cols — no
    id self-join), and the piece counter itself pure JVM expressions:
    lower → 33-rule literal replace chain → translate → length, every
    rule a real BPE merge (pair of tokens → one private-use symbol,
    cascades included).  The oracle replays the identical chain in
    DuckDB, so every count — and therefore the keep set — is
    bit-exact.

    Round-11 (verdict #5): above readers.COLLAPSE_MIN_ROWS (footer row
    count, no Spark job) the WHOLE text-functional stage — the BPE
    chain AND the quality score, both pure functions of the text —
    collapses to once-per-DISTINCT-text via
    operators.text.per_distinct_text (text_key join-back), which runs
    the same scoring body over one representative per text:
    hash-identical by text-functionality, and expression work scales
    with distinct texts instead of rows (sf10 measured in SCALE.md).
    Driver/bench SFs keep the exchange-free direct plan."""

    def scored(frame: DataFrame, key: str = "doc_id") -> DataFrame:
        return quality_score(
            frame.withColumn("n_bpe_pieces", bpe_piece_count("text").cast("long")),
            id_col=key,
            keep_cols=("n_bpe_pieces",),
        )

    docs = _t(spark, sf_dir, "documents")
    if collapse_dial(spark, sf_dir):
        q = per_distinct_text(docs.select("doc_id", "text"), scored)
    else:
        q = scored(docs)
    sel = token_budget_sample(
        q,
        budget_tokens=50_000,
        tokens_col="n_bpe_pieces",
        # ride the whitespace count inside the ordering checkpoint: the
        # corpus text is then evaluated exactly once (sf3: 50.5 -> ~19 s)
        carry_cols=("n_tokens",),
        # every output column lives in the checkpointed narrow
        # selection — the join-back would re-execute the collapsed
        # fingerprint join over the whole corpus (sf3: ~24 -> ~7 s)
        join_back=False,
    )
    return sel.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_bpe_pieces",
        "quality",
        F.col("running_tokens").cast("long").alias("running_pieces"),
    )


ORACLES["corpus_bpe_budget"] = f"""
    WITH q AS ({_quality_sql()}),
    b AS (
      SELECT doc_id, {_bpe_count_sql('text')} AS n_bpe_pieces FROM documents
    ),
    j AS (
      SELECT q.doc_id, q.n_tokens, b.n_bpe_pieces, q.quality
      FROM q JOIN b ON q.doc_id = b.doc_id
    ),
    r AS (
      SELECT doc_id, n_tokens, n_bpe_pieces, quality,
             SUM(n_bpe_pieces) OVER (ORDER BY quality DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS running_pieces
      FROM j
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_bpe_pieces AS BIGINT) AS n_bpe_pieces, quality,
           CAST(running_pieces AS BIGINT) AS running_pieces
    FROM r WHERE running_pieces <= 50000 OR running_pieces = n_bpe_pieces
"""

_STRAT_RATE_SQL = (
    "CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 80 WHEN 'fr' THEN 80 "
    "WHEN 'es' THEN 80 WHEN 'zh' THEN 100 ELSE 50 END"
)


def q_corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (hash-mod gate, no RNG):
    the language-rebalancing step of a pretraining mix.  Keep decision
    is a pure scan-side filter — zero shuffle at any corpus size."""

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "lang", STRAT_RATES, default_rate=50)


ORACLES["corpus_stratified_sample"] = f"""
    SELECT doc_id, lang FROM documents
    WHERE {_hash_sql("CAST(doc_id AS VARCHAR)", seed="strat")} % 100
          < {_STRAT_RATE_SQL}
"""

# Shared CTE block mirroring dedup.ngram_rep_edges + curation.dup_clusters:
# df-capped shingles → per-shingle min-id representative → star
# candidates → exact capped-set Jaccard verify → transitive closure
# (recursive CTE; fine at oracle scale — the SPARK side runs pointer
# jumping) → (doc_id, cluster_id = min reachable).  Used by
# corpus_keep_best and corpus_dedup_report.
_REP_CLUSTER_CTES = f"""
    sh0 AS ({_SHINGLES_SQL}),
    freq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
           JOIN freq ON sh0.shingle = freq.shingle WHERE freq.df <= 1000),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    reps AS (SELECT shingle, MIN(doc_id) AS rep FROM sh GROUP BY shingle),
    cand AS (SELECT DISTINCT r2.rep AS a_id, s.doc_id AS b_id
             FROM sh s JOIN reps r2 ON s.shingle = r2.shingle
             WHERE s.doc_id > r2.rep),
    inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
              FROM cand c JOIN sh a ON a.doc_id = c.a_id
                          JOIN sh b ON b.doc_id = c.b_id
                                   AND b.shingle = a.shingle
              GROUP BY 1, 2),
    vedges AS (SELECT i.a_id, i.b_id FROM inter i
               JOIN sizes sa ON i.a_id = sa.doc_id
               JOIN sizes sb ON i.b_id = sb.doc_id
               WHERE ROUND(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter),
                           6) >= 0.05),
    e AS (SELECT a_id AS u, b_id AS v FROM vedges
          UNION SELECT b_id, a_id FROM vedges),
    r(u, v) AS (SELECT u, v FROM e
                UNION
                SELECT r.u, e.v FROM r JOIN e ON r.v = e.u),
    labels AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
               FROM r GROUP BY u)
"""


def q_corpus_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate resolution, GROUP-shaped (round-6 verdict #3):
    star edges against shingle-bucket representatives
    (dedup.ngram_rep_edges — Θ(N) candidates at any duplication level)
    → connected components (curation.dup_clusters, pointer jumping) →
    keep ONE best document per component (longest text; id tie-break).
    Unclustered documents keep themselves.  Only a narrow
    (doc_id, q_len, cluster) relation ever shuffles — never the text.
    ``corpus_keep_best_pairs`` is the exact-pairwise audit variant."""

    docs = _t(spark, sf_dir, "documents")
    edges = ngram_rep_edges(
        docs, n=3, threshold=0.05,
        # shared dial (footer row count + memoized duplication probe,
        # round-12 verdict #5) — above it the shingle leg runs once per
        # distinct normalized text (round-11 verdict #5); driver/bench
        # SFs keep the exchange-free direct plan
        collapse_distinct=collapse_dial(spark, sf_dir),
        spread_rows=table_row_count(sf_dir, "documents"),
    )
    clusters = dup_clusters(edges)
    narrow = docs.select("doc_id", F.length("text").cast("long").alias("q_len"))
    labeled = narrow.join(clusters, "doc_id", "left").withColumn(
        "cl", F.coalesce("cluster_id", F.col("doc_id"))
    )
    w = Window.partitionBy("cl").orderBy(F.col("q_len").desc(), F.col("doc_id"))
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "q_len")
    )


ORACLES["corpus_keep_best"] = f"""
    WITH RECURSIVE {_REP_CLUSTER_CTES},
    q AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS q_len FROM documents),
    lab AS (SELECT q.doc_id, q.q_len, COALESCE(l.cluster_id, q.doc_id) AS cl
            FROM q LEFT JOIN labels l ON q.doc_id = l.doc_id)
    SELECT doc_id, q_len FROM (
      SELECT doc_id, q_len,
             ROW_NUMBER() OVER (PARTITION BY cl ORDER BY q_len DESC, doc_id) AS rn
      FROM lab)
    WHERE rn = 1
"""


def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing into 512-token training
    sequences (operators.curation.pack_sequences; two-pass partitioned
    running sum — no single-reducer window)."""

    docs = _t(spark, sf_dir, "documents")
    toks = F.size(tokens(F.col("text"))).cast("long")
    narrow = docs.select("doc_id", toks.alias("n_tokens"))
    out = pack_sequences(narrow, seq_len=512)
    return out.select("doc_id", "n_tokens", "pack_id", "pack_offset", "n_spanned")


ORACLES["corpus_pack_sequences"] = f"""
    WITH t AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
               FROM documents),
    r AS (SELECT doc_id, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS run
          FROM t)
    SELECT doc_id, n_tokens,
           CAST((run - n_tokens) // 512 AS BIGINT) AS pack_id,
           CAST((run - n_tokens) % 512 AS BIGINT) AS pack_offset,
           CAST(CASE WHEN n_tokens <= 0 THEN 0
                     ELSE ((run - 1) // 512) - ((run - n_tokens) // 512) + 1
                END AS BIGINT) AS n_spanned
    FROM r
"""


def q_corpus_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing in TOKENIZER-FAITHFUL units: the contiguous-fill
    concat-and-chunk layout of corpus_pack_sequences, but budgeted in
    exact BPE pieces (operators.text.bpe_piece_count, the round-10
    merge chain) instead of whitespace words — the packer's boundary
    decisions are what a 1.2-1.5× piece-to-word drift actually moves,
    so the training-shard layout must be computed in the unit the
    model consumes.  Same two-pass range-partitioned running sum (no
    SinglePartition window); the oracle replays the identical merge
    chain, so every pack boundary is bit-exact.  Same size-gated
    collapse-before-count as corpus_bpe_budget (round-11 verdict #5):
    beyond the footer-count gate the chain runs once per distinct
    text."""

    docs = _t(spark, sf_dir, "documents")
    narrow = with_bpe_piece_count(
        docs.select("doc_id", "text"),
        collapse=collapse_dial(spark, sf_dir),
    ).select("doc_id", "n_pieces")
    out = pack_sequences(narrow, seq_len=512, tokens_col="n_pieces")
    return out.select(
        "doc_id", "n_pieces", "pack_id", "pack_offset", "n_spanned"
    )


ORACLES["corpus_bpe_pack"] = f"""
    WITH t AS (SELECT doc_id, {_bpe_count_sql('text')} AS n_pieces
               FROM documents),
    r AS (SELECT doc_id, n_pieces,
                 SUM(n_pieces) OVER (ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS run
          FROM t)
    SELECT doc_id, CAST(n_pieces AS BIGINT) AS n_pieces,
           CAST((run - n_pieces) // 512 AS BIGINT) AS pack_id,
           CAST((run - n_pieces) % 512 AS BIGINT) AS pack_offset,
           CAST(CASE WHEN n_pieces <= 0 THEN 0
                     ELSE ((run - 1) // 512) - ((run - n_pieces) // 512) + 1
                END AS BIGINT) AS n_spanned
    FROM r
"""


def q_corpus_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (≤ 50 docs per source, longest-text-first) —
    the anti-domination guard of a data-mixing pipeline."""

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("q_len")
    )
    return source_quota(docs, per_source=50, quality_col="q_len")


ORACLES["corpus_source_quota"] = """
    SELECT doc_id, source, q_len, source_rank FROM (
      SELECT doc_id, source, CAST(length(text) AS BIGINT) AS q_len,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY length(text) DESC, doc_id)
                  AS BIGINT) AS source_rank
      FROM documents)
    WHERE source_rank <= 50
"""


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: doc counts, char/token volume, length
    bounds, language spread — ONE aggregation pass."""

    return corpus_profile(_t(spark, sf_dir, "documents"))


ORACLES["corpus_profile"] = f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
           CAST(MIN(length(text)) AS BIGINT) AS min_chars,
           CAST(MAX(length(text)) AS BIGINT) AS max_chars,
           ROUND(AVG(length(text)), 4) AS avg_chars,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_empty
    FROM documents GROUP BY source
"""


def q_corpus_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist gate over documents (whole-token match) —
    per-doc flags; zero shuffle, the list rides the plan as a literal
    array (operators.curation.blocklist_filter)."""

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = blocklist_filter(docs, ["slow", "error", "big"])
    return out.select("doc_id", "n_blocked_terms", "blocked")


ORACLES["corpus_blocklist"] = f"""
    SELECT doc_id,
           CAST(len(list_intersect(list_distinct({_TOKS}),
                                   ['slow', 'error', 'big'])) AS BIGINT)
             AS n_blocked_terms,
           len(list_intersect(list_distinct({_TOKS}),
                              ['slow', 'error', 'big'])) > 0 AS blocked
    FROM documents
"""


def q_corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline summary — the per-stage dataset-card a
    curation run prints: corpus size, distinct normalized contents,
    exact-duplicate rows to drop, near-dup component count, documents
    in components, and the keep-one-per-component drop set size.

    GROUP-shaped (round-6 verdict #3): near-dup structure is reported
    as connected components over star edges against shingle-bucket
    representatives (dedup.ngram_rep_edges → curation.dup_clusters) —
    Θ(N + groups), never the Θ(K² per group) pair enumeration a
    duplication-heavy corpus explodes under.  The exact pairwise audit
    lives in corpus_keep_best_pairs / dedup_ngram_capped.

    One row; the scalars fold together with broadcast cross joins (the
    decorrelated-scalar-subquery shape) — no driver-side counts."""
    docs = _t(spark, sf_dir, "documents")

    edges = ngram_rep_edges(
        docs, n=3, threshold=0.05,
        # same footer gate as corpus_keep_best (round-11 verdict #5)
        collapse_distinct=collapse_dial(spark, sf_dir),
        spread_rows=table_row_count(sf_dir, "documents"),
    )
    clusters = dup_clusters(edges)
    # r14 (guide §1.2 — don't scan twice for one pass's worth of
    # answers): n_docs and n_distinct_contents fold into ONE aggregate
    # over one md5(normalized-text) projection.  The former shape ran
    # dedup_exact (scan + md5 + groupBy(fp)) just to count its groups,
    # plus a separate count(*) scan; count-of-groups ==
    # COUNT(DISTINCT fp), which is exactly the oracle's own
    # formulation (`COUNT(DISTINCT fp) FROM norm`).  Plan diff: the
    # dedup_exact Exchange+HashAggregate subtree is gone
    # (plans/r14/corpus_dedup_report_{before,after}.txt).
    # The projection comes from content_fingerprints so its analyzed
    # plan is IDENTICAL to the collapse prelude's cached fpmap — above
    # the collapse dial (sf1+) the scalar aggregate reads the same
    # cache entry the rep-edges legs fill, and the corpus text+md5
    # pass runs ONCE for the whole report (r13 verdict #4).

    s_docs_contents = content_fingerprints(docs).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("__fp").alias("n_distinct_contents"),
    )
    s_cl = clusters.agg(
        F.countDistinct("cluster_id").alias("n_dup_clusters"),
        F.count("*").alias("n_clustered_docs"),
    )
    return (
        s_docs_contents
        .crossJoin(F.broadcast(s_cl))
        .select(
            "n_docs",
            "n_distinct_contents",
            (F.col("n_docs") - F.col("n_distinct_contents")).alias("n_exact_dup_rows"),
            "n_dup_clusters",
            "n_clustered_docs",
            (F.col("n_clustered_docs") - F.col("n_dup_clusters")).alias("n_dominated"),
        )
    )


ORACLES["corpus_dedup_report"] = f"""
    WITH RECURSIVE {_REP_CLUSTER_CTES},
    norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents)
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT COUNT(DISTINCT fp) FROM norm) AS n_distinct_contents,
           (SELECT COUNT(*) FROM documents)
             - (SELECT COUNT(DISTINCT fp) FROM norm) AS n_exact_dup_rows,
           (SELECT COUNT(DISTINCT cluster_id) FROM labels) AS n_dup_clusters,
           (SELECT COUNT(*) FROM labels) AS n_clustered_docs,
           (SELECT COUNT(*) FROM labels)
             - (SELECT COUNT(DISTINCT cluster_id) FROM labels) AS n_dominated
"""


def q_corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (the mC4 / XLM-R
    multilingual sampling recipe, Conneau et al. 2020): head languages
    are downsampled toward p_l^α proportions so low-resource languages
    keep presence in the mix.  α = 0.5 deliberately — the weight is
    then ``sqrt(n_l)``, and IEEE sqrt (and the following divide) are
    correctly-rounded on every engine, so the per-language keep rate
    in exact ppm (``floor(10⁶·sqrt(n_l)/max_l sqrt(n_l))``) is
    bit-identical cross-engine where a pow(x, 0.7) could diverge in
    the last ulp and flip a sampling boundary.  Keep decision is the
    deterministic corpus hash mod 10⁶ against that rate — stable under
    corpus growth like every sampler here.  The |langs|-row rate table
    is domain-bounded → broadcast; the corpus is never shuffled."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    smax = counts.agg(F.max(F.sqrt("n_l")).alias("smax"))
    rates = (
        counts.crossJoin(F.broadcast(smax))
        .select(
            "lang",
            "n_l",
            F.floor(F.lit(1000000.0) * F.sqrt("n_l") / F.col("smax"))
            .cast("long")
            .alias("keep_ppm"),
        )
    )

    h = cross_engine_hash(F.col("doc_id").cast("string"), seed="temp")
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(F.pmod(h, F.lit(1000000)) < F.col("keep_ppm"))
        .select("doc_id", "lang", "n_l", "keep_ppm")
    )


ORACLES["corpus_temperature_sample"] = f"""
    WITH c AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
    m AS (SELECT MAX(sqrt(n_l)) AS smax FROM c),
    r AS (
      SELECT lang, n_l,
             CAST(FLOOR(1000000.0 * sqrt(n_l) / smax) AS BIGINT) AS keep_ppm
      FROM c, m)
    SELECT d.doc_id, d.lang, r.n_l, r.keep_ppm
    FROM documents d JOIN r USING (lang)
    WHERE {_hash_sql("CAST(doc_id AS VARCHAR)", seed="temp")} % 1000000
          < r.keep_ppm
"""

_DSIR_BUCKETS = 1024

_DSIR_K = 100


def q_corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (operators.curation.dsir_select; Xie
    et al. 2023): hashed-bigram log-likelihood-ratio scoring of the raw
    corpus against the target distribution (here the ``lang = 'en'``
    rows stand in for the curated target set), top-100 kept.  One
    corpus pass builds BOTH feature distributions (conditional sum in
    one n_buckets-key aggregation); the ≤1024-row log-ratio table is
    broadcast to the scoring scan; top-k is TakeOrderedAndProject.

    No counterpart in the reference (its selection is site-config
    driven, JobRunner.scala:31-44); this is the LLM-pipeline
    data-selection op the published pretraining recipes use."""

    return dsir_select(
        _t(spark, sf_dir, "documents"),
        target=F.col("lang") == "en",
        n_buckets=_DSIR_BUCKETS,
        k=_DSIR_K,
        # footer row count, no Spark job — above the shared collapse
        # dial both DSIR passes build the gram stream once per DISTINCT
        # text (round-11 verdict #6); driver/bench SFs keep the direct
        # two-pass plan the hash gate covers
        collapse=collapse_dial(spark, sf_dir),
    )


ORACLES["corpus_dsir_select"] = f"""
    WITH toks AS (
      SELECT doc_id, source, lang, {_TOKS} AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, source, lang,
             {_hash_sql("w[i] || ' ' || w[i+1]", seed="dsir")}
               % {_DSIR_BUCKETS} AS bucket
      FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
      WHERE len(w) >= 2
    ),
    counts AS (
      SELECT bucket, COUNT(*) AS c_raw,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
      FROM grams GROUP BY bucket
    ),
    tot AS (
      SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt FROM counts
    ),
    lr AS (
      SELECT bucket,
             ln(c_tgt + 1) - ln(t_tgt + {_DSIR_BUCKETS})
             - ln(c_raw + 1) + ln(t_raw + {_DSIR_BUCKETS}) AS lr
      FROM counts, tot
    ),
    scores AS (
      SELECT g.doc_id, g.source, g.lang, ROUND(SUM(l.lr), 6) AS score
      FROM grams g JOIN lr l USING (bucket)
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, source, lang, score
    FROM scores
    ORDER BY score DESC, doc_id
    LIMIT {_DSIR_K}
"""


def q_corpus_shard_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard unigram Jensen-Shannon divergence vs the global corpus
    (operators.curation.shard_divergence) over the SAME deterministic
    md5 shard assignment as corpus_shard_manifest — the mixing
    diagnostic for a training shard layout.  The absent-token tail of
    the JSD folds into a closed form, so the plan touches only the
    (shard, token) pairs that exist: ONE corpus aggregation bounded to
    |shards|×|vocab| rows, three windows over that bounded relation
    (including the unpartitioned grand-total pass over bytes), and a
    min_by argmax for the top token inside the per-shard aggregation —
    a single subtree, nothing re-reads the corpus."""

    docs = _t(spark, sf_dir, "documents")
    shard = (
        cross_engine_hash(
            F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string"))
        )
        % _MANIFEST_SHARDS
    )
    return shard_divergence(docs.withColumn("shard", shard))


ORACLES["corpus_shard_divergence"] = f"""
    WITH docs_s AS (
      SELECT ('0x' || substr(md5(concat('shuffle:', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
               % {_MANIFEST_SHARDS} AS shard,
             {_TOKS} AS w
      FROM documents
    ),
    tok AS (
      SELECT shard, unnest(w) AS tok FROM docs_s
    ),
    st AS (
      SELECT shard, tok, COUNT(*) AS c_st FROM tok GROUP BY shard, tok
    ),
    enriched AS (
      SELECT shard, tok, c_st,
             SUM(c_st) OVER (PARTITION BY tok) AS c_g,
             SUM(c_st) OVER (PARTITION BY shard) AS t_s,
             SUM(c_st) OVER () AS g_tot
      FROM st
    ),
    terms AS (
      SELECT shard, tok, t_s,
             0.5 * (c_st / t_s) * ln((c_st / t_s) / ((c_st / t_s + c_g / g_tot) / 2))
             + 0.5 * (c_g / g_tot) * ln((c_g / g_tot) / ((c_st / t_s + c_g / g_tot) / 2))
               AS contrib,
             c_g / g_tot AS q_present,
             ROUND((c_st / t_s) / (c_g / g_tot), 6) AS over_ratio
      FROM enriched
    ),
    top_tok AS (
      SELECT shard, tok AS top_token FROM (
        SELECT shard, tok,
               ROW_NUMBER() OVER (
                 PARTITION BY shard ORDER BY over_ratio DESC, tok
               ) AS rn
        FROM terms
      ) WHERE rn = 1
    ),
    per_shard AS (
      SELECT shard, MAX(t_s) AS n_tokens,
             ROUND(SUM(contrib) + 0.5 * ln(2) * (1 - SUM(q_present)), 6)
               AS js_divergence
      FROM terms GROUP BY shard
    ),
    n_docs AS (
      SELECT shard, COUNT(*) AS n_docs FROM docs_s GROUP BY shard
    )
    SELECT CAST(p.shard AS BIGINT) AS shard,
           CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(p.n_tokens AS BIGINT) AS n_tokens,
           p.js_divergence,
           t.top_token
    FROM per_shard p
    JOIN n_docs d ON p.shard = d.shard
    JOIN top_tok t ON p.shard = t.shard
"""


def q_corpus_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING (operators.curation.dsir_resample) —
    the selection step Xie et al. 2023 actually prescribe: sample
    ``k`` documents without replacement with probability ∝ exp(score)
    via the Gumbel-top-k trick, instead of the deterministic top-k
    (which over-concentrates on one mode of the target distribution;
    ``corpus_dsir_select`` is the ranked twin).  The Gumbel noise is a
    pure function of the doc id through the cross-engine md5 hash, so
    the draw is reproducible and the oracle replays it exactly.  Plan:
    the shared DSIR scoring core (model pass + broadcast-scored pass,
    collapse-gated like the select twin) plus one noise projection and
    a TakeOrderedAndProject.

    No counterpart in the reference (JobRunner.scala:31-44 selects by
    site config); this is the published pretraining-selection recipe."""

    return dsir_resample(
        _t(spark, sf_dir, "documents"),
        target=F.col("lang") == "en",
        n_buckets=_DSIR_BUCKETS,
        k=_DSIR_K,
        collapse=collapse_dial(spark, sf_dir),
    )


ORACLES["corpus_dsir_resample"] = f"""
    WITH toks AS (
      SELECT doc_id, source, lang, {_TOKS} AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, source, lang,
             {_hash_sql("w[i] || ' ' || w[i+1]", seed="dsir")}
               % {_DSIR_BUCKETS} AS bucket
      FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
      WHERE len(w) >= 2
    ),
    counts AS (
      SELECT bucket, COUNT(*) AS c_raw,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
      FROM grams GROUP BY bucket
    ),
    tot AS (
      SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt FROM counts
    ),
    lr AS (
      SELECT bucket,
             ln(c_tgt + 1) - ln(t_tgt + {_DSIR_BUCKETS})
             - ln(c_raw + 1) + ln(t_raw + {_DSIR_BUCKETS}) AS lr
      FROM counts, tot
    ),
    scores AS (
      SELECT g.doc_id, g.source, g.lang, ROUND(SUM(l.lr), 6) AS score
      FROM grams g JOIN lr l USING (bucket)
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, source, lang, score,
           ROUND(score + -ln(-ln(
             ({_hash_sql("CAST(doc_id AS VARCHAR)", seed="gumbel")} + 0.5)
               / 4294967296.0)), 6) AS gumbel_key
    FROM scores
    ORDER BY gumbel_key DESC, doc_id
    LIMIT {_DSIR_K}
"""


def q_corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): per language, order documents by corpus-bigram-LM
    perplexity and split into head / middle / tail thirds — the
    curation stage the published pretraining recipes keep head+middle
    from.  Buckets are RANK-exact, not quantile-interpolated:
    ``bucket = (3·(rn−1)) div n`` over the ``(ppl, doc_id)``
    row_number — pure integer arithmetic, so there is no
    float-threshold boundary for the two engines to disagree on
    (interpolated tertiles put documents EXACTLY ON the threshold at
    n ≡ 1 mod 3, where a ulp of libm difference flips the bucket).

    Plan: the doc_bigram_perplexity pipeline (two bounded model
    aggregations + two equi-joins), a per-language ranking and a
    broadcast join of the per-language counts.  Below the footer dial
    the ranking is one per-language window (same partitioned-window
    shape as the rank_normalized flagship — parallel across
    languages); ABOVE it (round-12 verdict #3: at 100 TB a single
    dominant language funnels ~all rows through one window task) the
    rank goes through ``range_partitioned_row_number`` grouped by
    lang — the range shuffle keys on (lang, ppl, doc_id), so a
    dominant language spreads across ppl-ordered partitions instead
    of one hot reducer, and the per-language counts read the same
    lazily-checkpointed relation rather than re-evaluating the
    perplexity pipeline.  Both paths are value-identical (pinned by
    test_properties.test_ccnet_range_rank_path_identical).  Documents
    with < 2 tokens have no perplexity and are excluded on both
    engines."""

    docs = _t(spark, sf_dir, "documents")
    per = q_doc_bigram_perplexity(spark, sf_dir)
    lp = per.join(docs.select("doc_id", "lang"), "doc_id")
    return _ccnet_bucket_stats(
        lp,
        range_rank=table_row_count(sf_dir, "documents")
        > RANGE_RANK_MIN_ROWS,
    )


ORACLES["corpus_ccnet_buckets"] = f"""
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
      FROM bg JOIN m12 USING (bg) JOIN m1 USING (w1)),
    ppl AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(EXP(AVG(nll)), 4) AS ppl
      FROM sc GROUP BY doc_id),
    lp AS (
      SELECT d.lang, p.doc_id, p.n_bigrams, p.ppl
      FROM ppl p JOIN documents d USING (doc_id)),
    rk AS (
      SELECT lang, n_bigrams, ppl,
             (3 * (ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY ppl, doc_id) - 1))
               // (COUNT(*) OVER (PARTITION BY lang)) AS bidx
      FROM lp)
    SELECT lang,
           CASE bidx WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
           MIN(ppl) AS min_ppl,
           MAX(ppl) AS max_ppl,
           ROUND(AVG(ppl), 4) AS avg_ppl
    FROM rk GROUP BY 1, 2
"""


def _ccnet_bucket_stats(lp: DataFrame, range_rank: bool) -> DataFrame:
    """Rank-exact per-language thirds over a ``(doc_id, n_bigrams,
    ppl, lang)`` relation — the bucketing core of
    ``q_corpus_ccnet_buckets``, split out so the property suite can
    pin the two ranking paths identical on the same input."""
    if range_rank:

        # one lazy checkpoint feeds BOTH the rank and the counts: the
        # perplexity lineage behind lp is two model aggregations and
        # two joins — without this the counts agg re-evaluates it
        lp = lp.localCheckpoint(eager=False)
        ranked = range_partitioned_row_number(
            lp,
            [F.col("ppl"), F.col("doc_id")],
            out_col="rn",
            group_cols=["lang"],
        )
    else:
        w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
        ranked = lp.withColumn("rn", F.row_number().over(w))
    counts = lp.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    rk = ranked.join(F.broadcast(counts), "lang").withColumn(
        "bidx", F.expr("(3 * (rn - 1)) div n")
    )
    label = (
        F.when(F.col("bidx") == 0, "head")
        .when(F.col("bidx") == 1, "middle")
        .otherwise("tail")
    )
    return rk.groupBy("lang", label.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").cast("long").alias("total_bigrams"),
        F.min("ppl").alias("min_ppl"),
        F.max("ppl").alias("max_ppl"),
        F.round(F.avg("ppl"), 4).alias("avg_ppl"),
    )


#: Per-source training-epoch factors for corpus_epoch_upsample (mixing
#: config, not data): a source with factor e contributes floor(e) full
#: copies of every document plus one extra copy of a deterministic
#: frac(e) hash-share of them — the "epochs per source" table of the
#: published pretraining mixes (LLaMA's Wikipedia 2.45 epochs, books
#: 2.23, etc.).  Factors < 1 downsample (0 full copies, a frac(e)
#: keep-share).  Unlisted sources run exactly 1 epoch.
EPOCH_FACTORS = {"src0": 3.2, "src1": 2.0, "src2": 1.5, "src3": 0.4}


def _epoch_rows() -> list[tuple[str, int, int]]:
    """(source, whole_epochs, fractional-hash threshold) with the
    threshold computed ONCE here (int(frac · 2³²)) and inlined as the
    SAME literal into both the Spark expression and the oracle SQL —
    engine-exact by construction."""
    return [
        (k, int(v), int((v - int(v)) * 2**32))
        for k, v in sorted(EPOCH_FACTORS.items())
    ]


def q_corpus_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch upsampling (new round 13): replicate each
    document ``floor(e)`` times and give a deterministic ``frac(e)``
    hash-share of its source one extra copy — the source-repetition
    step of a pretraining mix, generalizing stratified_sample (pure
    downsampling) to factors above 1.  The keep/extra decision is the
    cross-engine md5 hash of doc_id (no RNG state, re-runs never flip
    a row; same machinery as hash_split/DSIR).  Pure scan-side
    expressions — ZERO shuffle at any corpus size; the output is the
    (doc_id, source, n_copies) relation a downstream interleave/pack
    stage consumes without ever materializing the copies."""

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    whole, thr = F.lit(1), F.lit(0).cast("long")
    for k, w, fr in _epoch_rows():
        whole = F.when(F.col("source") == k, F.lit(w)).otherwise(whole)
        thr = F.when(F.col("source") == k, F.lit(fr)).otherwise(thr)
    h = cross_engine_hash(F.col("doc_id").cast("string"), seed="epoch")
    out = docs.withColumn(
        "n_copies", (whole + (h < thr).cast("int")).cast("long")
    )
    return out.filter(F.col("n_copies") > 0).select(
        "doc_id", "source", "n_copies"
    )


ORACLES["corpus_epoch_upsample"] = f"""
    WITH e AS (
      SELECT doc_id, source,
             CASE source {' '.join(f"WHEN '{k}' THEN {w}" for k, w, _ in _epoch_rows())} ELSE 1 END AS whole,
             CASE source {' '.join(f"WHEN '{k}' THEN {fr}" for k, _, fr in _epoch_rows())} ELSE 0 END AS thr,
             {_hash_sql('doc_id', seed='epoch')} AS h
      FROM documents)
    SELECT doc_id, source,
           CAST(whole + CASE WHEN h < thr THEN 1 ELSE 0 END AS BIGINT)
             AS n_copies
    FROM e
    WHERE whole + CASE WHEN h < thr THEN 1 ELSE 0 END > 0
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


ORACLES["corpus_vocab_growth"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    f AS (SELECT tok, MIN(doc_id) AS doc_id FROM tok GROUP BY 1),
    n AS (SELECT doc_id, COUNT(*) AS n_new FROM f GROUP BY 1)
    SELECT doc_id, n_new,
           CAST(SUM(n_new) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS vocab_size
    FROM n
"""

# DuckDB side of operators.text.cross_engine_hash(doc_id, seed="ws")
_hash_ws = "('0x' || substr(md5(concat('ws:', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT"


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


ORACLES["corpus_weighted_sample"] = f"""
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


QUERIES = {
    "corpus_hash_split": q_corpus_hash_split,
    "corpus_token_budget": q_corpus_token_budget,
    "corpus_shard_manifest": q_corpus_shard_manifest,
    "corpus_shard_append": q_corpus_shard_append,
    "corpus_interleave": q_corpus_interleave,
    "corpus_keep_best_pairs": q_corpus_keep_best_pairs,
    "corpus_contamination": q_corpus_contamination,
    "corpus_bloom_decontaminate": q_corpus_bloom_decontaminate,
    "corpus_bpe_budget": q_corpus_bpe_budget,
    "corpus_stratified_sample": q_corpus_stratified_sample,
    "corpus_keep_best": q_corpus_keep_best,
    "corpus_pack_sequences": q_corpus_pack_sequences,
    "corpus_bpe_pack": q_corpus_bpe_pack,
    "corpus_source_quota": q_corpus_source_quota,
    "corpus_profile": q_corpus_profile,
    "corpus_blocklist": q_corpus_blocklist,
    "corpus_dedup_report": q_corpus_dedup_report,
    "corpus_temperature_sample": q_corpus_temperature_sample,
    "corpus_dsir_select": q_corpus_dsir_select,
    "corpus_shard_divergence": q_corpus_shard_divergence,
    "corpus_dsir_resample": q_corpus_dsir_resample,
    "corpus_ccnet_buckets": q_corpus_ccnet_buckets,
    "corpus_epoch_upsample": q_corpus_epoch_upsample,
    "corpus_vocab_growth": q_corpus_vocab_growth,
    "corpus_weighted_sample": q_corpus_weighted_sample,
}
