"""Deduplication operators (extension surface; SURVEY.md §7 step 7).

Scale design — each stage is a declarative plan with exactly the
shuffles the algorithm requires:

- **exact**: hash the normalized text, groupBy hash — one shuffle, with
  map-side partial aggregation.  At 100 TB the hash (16 bytes) shuffles
  instead of the document body.
- **n-gram Jaccard**: explode distinct shingles → self-equi-join on
  shingle → per-pair intersection counts → filter by threshold.  The
  shingle join is the classic inverted-index plan; hot shingles are the
  skew hazard, so shingles above a document-frequency cap are dropped
  (stopword shingles carry no dedup signal, and the cap bounds the
  worst-case pair blowup).  Every exact verifier (n-gram pairs,
  containment, rep edges, MinHash and incremental candidates) runs the
  ONE shingle-overlap kernel (``_shingle_overlap``: intersection
  count, both set sizes; all-pairs or candidate-driven, at document or
  content-fingerprint level) and its rounded-Jaccard filter.
- **MinHash + LSH banding**: k independent min-hashes per doc computed
  in ONE aggregation over the exploded shingles (k min() aggregates, no
  k-fold explode), then band signatures, then an equi-join on
  (band, band_hash) to get candidates — only near-duplicates collide,
  so the join output is ~linear in duplicates rather than quadratic in
  documents.
- **SimHash**: 32 sign-sum aggregates over exploded tokens → one long
  per doc; near-dup pairs via hamming distance on a (cheap) candidate
  pair set.

Hashes that reach query output use the md5-based cross-engine hash
(operators.text) so the DuckDB oracle reproduces every stage
bit-for-bit; purely internal join keys (shingle self-join, LSH band
digests) use xxhash64 longs instead — smaller shuffle rows, same
grouping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import spread_small_by
from .text import cross_engine_hash, cross_engine_hash_hi, tokens

__all__ = [
    "normalize_text",
    "word_shingles",
    "hashed_shingles",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "content_fingerprints",
    "ngram_rep_edges",
    "minhash_signatures",
    "minhash_bands",
    "minhash_bands_rowlocal",
    "minhash_bands_wide",
    "band_collision_pairs",
    "first_collision_claim",
    "minhash_lsh_pairs",
    "verify_batch_candidates",
    "incremental_dedup_flags",
    "fuzzy_pairs_ed1",
    "simhash",
    "simhash_pairs",
    "simhash_clusters_collapsed",
]


def normalize_text(text_col: str = "text") -> F.Column:
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def _shingle_array_expr(n: int) -> F.Column:
    """Word n-gram shingles of the token array column ``t`` as ONE
    array expression — the single definition of "shingle" shared by
    the exploded batch path (word_shingles) and the row-local
    streaming path (minhash_bands_rowlocal), whose stream-static
    band join is only correct while the two stay bit-identical.
    Callers must filter ``size(t) >= n`` first (the sequence stop
    bound must be ≥ 0).

    Deliberately NOT rewritten to the ``transform(array(t), arr → …)``
    let-bound shape ``text.ngram_strings`` needed (round-11 verdict
    #3, measured round 12): unlike the inline-expression callers that
    motivated ngram_strings, every caller here aliases the token array
    to a real column ``t`` first, and CollapseProject refuses to
    inline a non-cheap alias referenced more than once — the optimized
    plan keeps ``t`` materialized in its own Project (tokenize runs
    once per row; the only other occurrence is the ``size(t) >= n``
    filter pushed below the repartition exchange, where it prunes
    short docs before the shuffle).  The interleaved A/B (min-of-3,
    both orders, SCALE.md "shingle let-binding A/B") measured the
    let-bound form SLOWER — sf1 word_shingles 2.06 s vs 1.25 s, sf1
    rowlocal bands 12.63 s vs 11.82 s — because ``slice`` allocates a
    per-gram array that direct ``t[i + j]`` indexing avoids."""
    parts = ", ".join(f"t[i + {j}]" for j in range(n))
    return F.expr(
        f"transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', {parts}))"
    )


def word_shingles(df: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Built with ``transform(sequence(...))`` over the token array —
    array expressions, no UDF, no extra shuffle before the explode.
    """
    toks = tokens(normalize_text(text_col))
    shingles = _shingle_array_expr(n)
    # spread the RAW rows across the cluster before tokenization —
    # normalize/tokenize/explode amplify work ~|tokens|×, and a corpus
    # arriving in few input splits would otherwise run all of it in as
    # few tasks.  The shuffle moves only raw text; everything derived
    # is computed post-exchange, in parallel.
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(par)
        .select(F.col(id_col), toks.alias("t"))
        .filter(F.size("t") >= n)
        .select(F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle"))
    )


def hashed_shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """:func:`word_shingles` with each shingle hashed to a 64-bit key
    BEFORE any shuffle: (id, shingle long).  The self-joins and
    aggregations of every exact-overlap verifier then ship 8-byte longs
    instead of n-word strings (~3.7x faster end-to-end at sf0.1,
    identical pairs — a 64-bit collision needs ~2^32 distinct shingles
    to be likely)."""
    return word_shingles(df, n=n, id_col=id_col).select(
        id_col, F.xxhash64("shingle").alias("shingle")
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups on normalized content.

    Returns one row per distinct content: (fp_md5, keep_id = min id,
    n_dups).  A pipeline keeps ``keep_id`` and drops the rest; the
    group-by runs on the 16-byte digest, not the document."""
    norm = normalize_text(text_col)
    return (
        df.select(F.md5(norm).alias("fp_md5"), F.col(id_col))
        .groupBy("fp_md5")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


# Default document-frequency cap for the shingle inverted index: a
# shingle in more than this many documents is dropped before the
# self-join.  Finite BY DEFAULT so the skew-safe plan is the one users
# get without reading the docstring — at corpus scale a stopword
# shingle in 10⁶ docs would emit 10¹² join rows; pass
# ``max_doc_freq=None`` to explicitly opt out (e.g. for an exact
# ground-truth set in a recall audit).
DEFAULT_MAX_DOC_FREQ = 1000


def _shingle_sizes(sh: DataFrame, key: str) -> DataFrame:
    """(key, n_sh): each side's shingle-set size."""
    return sh.groupBy(key).agg(F.count("*").alias("n_sh"))


def _shingle_overlap(
    sh: DataFrame, key: str, ka: str, kb: str, cand: DataFrame | None = None
) -> DataFrame:
    """The exact shingle-set overlap kernel shared by every n-gram and
    MinHash verifier: (ka, kb, …, n_inter, n_a, n_b) — the intersection
    count and both sides' set sizes over the (``key``, shingle)
    relation ``sh``, at document (``doc_id``) or fingerprint (``__fp``)
    level.

    Two shapes, one arithmetic:

    - ``cand`` None — ALL pairs: the inverted-index self-equi-join on
      shingle, ``a < b``.  Output pairs are (ka, kb).
    - ``cand`` given — CANDIDATE-driven: expand each candidate row by
      ``ka``'s shingles and keep the ones ``kb`` also holds —
      Θ(Σ_cand |S_a|) rows, never an all-pairs join; grouped by every
      column of ``cand`` (extra columns ride along).
    """
    if cand is None:
        a, b = sh.alias("a"), sh.alias("b")
        hits = a.join(b, "shingle").filter(F.col(f"a.{key}") < F.col(f"b.{key}"))
        by = [F.col(f"a.{key}").alias(ka), F.col(f"b.{key}").alias(kb)]
    else:
        hits = cand.join(sh.select(F.col(key).alias(ka), "shingle"), ka).join(
            sh.select(F.col(key).alias(kb), "shingle"), [kb, "shingle"]
        )
        by = cand.columns
    out = hits.groupBy(*by).agg(F.count("*").alias("n_inter"))
    sizes = _shingle_sizes(sh, key)
    for k, n_col in ((ka, "n_a"), (kb, "n_b")):
        out = out.join(
            sizes.select(F.col(key).alias(k), F.col("n_sh").alias(n_col)), k
        )
    return out


def _jaccard_at_least(overlap: DataFrame, threshold: float) -> DataFrame:
    """Kernel output + ``jaccard`` = |A∩B| / |A∪B| rounded to 6 places
    (the cross-engine oracle precision), kept where ≥ ``threshold``."""
    return overlap.withColumn(
        "jaccard",
        F.round(
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
        ),
    ).filter(F.col("jaccard") >= threshold)


def _drop_hot(sh: DataFrame, freq: DataFrame, max_doc_freq: int) -> DataFrame:
    """``sh`` without the shingles whose document frequency ``df_``
    (per ``freq``) exceeds the cap — a broadcast anti-join."""
    return sh.join(
        F.broadcast(freq.filter(F.col("df_") > max_doc_freq)),
        "shingle", "left_anti",
    )


def _capped_shingles(
    df: DataFrame, n: int, max_doc_freq: int | None
) -> DataFrame:
    """The df-capped doc-level (doc_id, shingle) relation of the
    all-pairs audits (ngram_jaccard_pairs / ngram_containment_pairs),
    cached."""
    sh = hashed_shingles(df, n=n)
    if max_doc_freq is not None:
        # cache the RAW stream too: the df-cap aggregate below and the
        # capped relation's cache fill both consume it, and without a
        # cache each re-runs tokenize+shingle+hash from the corpus
        # text — a full extra pass (r13 profile: twin ~25
        # executor-second stages).  Narrow (id, long) rows;
        # MEMORY_AND_DISK spills at scale.
        #
        # SCALE WATCH (r13 ADVICE #3): this cache holds one row per
        # (doc, distinct shingle) — at corpus scale the fill spills the
        # whole exploded stream to executor disk, a cost justified here
        # only by the measured two-consumer recompute it replaces
        # (sf0.1/sf1 profiles); the operator takes a DataFrame, not a
        # table path, so no footer gate is reachable from this API.
        # Entries outlive the query: LONG-LIVED sessions must
        # clearCache() between queries (both bench harnesses do) or
        # the operators leak cached storage.
        sh = sh.cache()
        sh = _drop_hot(
            sh, sh.groupBy("shingle").agg(F.count("*").alias("df_")), max_doc_freq
        )
    # cache, not localCheckpoint: the frame feeds several downstream
    # consumers of ONE final plan, and a lazy cache populates inside
    # that single job — an eager checkpoint was measured to add a
    # synchronous extra materialization job (~0.5-1 s per query,
    # +5% catalog wall).  Cached entries do outlive the query, so
    # LONG-LIVED sessions should clearCache() periodically — both
    # bench harnesses do, between every query.  (r13 note: a
    # shingle-keyed _spread_cached here was tried and reverted — the
    # self-join legs BROADCAST one cached side, so the keyed fill
    # exchange bought nothing and cost a barrier; measured +0.9 s.)
    return sh.cache()


def _capped_fp_shingles(
    df: DataFrame, n: int, max_doc_freq: int | None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fingerprint-level twin of :func:`_capped_shingles` for the
    collapse paths: (fpmap, fpg, rsh) — the (doc_id → __fp) map, the
    per-fp multiplicity ``m``, and the df-capped (__fp, shingle)
    relation, with document counts recovered as Σ clone
    multiplicities."""
    fpmap, rsh = _fp_shingles(df, n)
    fpg = fpmap.groupBy("__fp").agg(F.count(F.lit(1)).alias("m"))
    if max_doc_freq is not None:
        freq = rsh.join(fpg, "__fp").groupBy("shingle").agg(
            F.sum("m").alias("df_")
        )
        # capped twin cached; same trade-off note as _capped_shingles
        rsh = _drop_hot(rsh, freq, max_doc_freq).cache()
    # (uncapped: rsh deliberately UNCACHED — its consumers fork above
    # the dropDuplicates exchange, so shuffle reuse already shares the
    # scan+md5+dedup work; see the _fp_shingles note)
    return fpmap, fpg, rsh


def _pair_audit(
    df: DataFrame,
    n: int,
    threshold: float,
    max_doc_freq: int | None,
    collapse_distinct: bool,
    emit,
    directional: bool,
) -> DataFrame:
    """The one body of the all-pairs audits (ngram_jaccard_pairs /
    ngram_containment_pairs).  ``emit`` maps the all-pairs overlap
    kernel's (a_id, b_id, n_inter, n_a, n_b) rows to the audit's three
    output columns — first id, second id, value — kept where the value
    is ≥ ``threshold``.

    The dial picks only the keying.  Direct: the kernel runs over the
    df-capped document shingles and ``emit`` yields the answer.
    ``collapse_distinct``: it runs over distinct-content fingerprints
    (_capped_fp_shingles — document counts in the df-cap recovered as
    Σ clone multiplicities), and one tail turns fingerprint pairs into
    document pairs: each pair expands to its clones' document ids, and
    every pair of documents inside one fingerprint group with ≥ 1
    surviving shingle — value exactly 1.0 for both measures (the
    direct path computes round(n/n, 6)) — is emitted closed-form,
    unordered (a < b) or, ``directional``, in both directions."""
    if not collapse_distinct:
        sh = _capped_shingles(df, n, max_doc_freq)
        return emit(_shingle_overlap(sh, "doc_id", "a_id", "b_id"))
    fpmap, fpg, rsh = _capped_fp_shingles(df, n, max_doc_freq)
    fp_pairs = emit(_shingle_overlap(rsh, "__fp", "a_id", "b_id"))
    a, b, value = fp_pairs.columns
    x, y = F.col("x"), F.col("y")

    def clones(fp: str, doc: str) -> DataFrame:
        return fpmap.select(F.col("__fp").alias(fp), F.col("doc_id").alias(doc))

    first, second = (x, y) if directional else (F.least(x, y), F.greatest(x, y))
    cross_docs = (
        fp_pairs.join(clones(a, "x"), a)
        .join(clones(b, "y"), b)
        .select(first.alias(a), second.alias(b), value)
    )
    same_docs = (
        _shingle_sizes(rsh, "__fp")
        .join(fpg.filter(F.col("m") >= 2), "__fp")
        .join(clones("__fp", "x"), "__fp")
        .join(clones("__fp", "y"), "__fp")
        .filter(x != y if directional else x < y)
        .withColumn(value, F.lit(1.0))
        .filter(F.col(value) >= threshold)
        .select(x.alias(a), y.alias(b), value)
    )
    return cross_docs.unionByName(same_docs)


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    collapse_distinct: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    (a_id, b_id, jaccard) for a_id < b_id with jaccard ≥ threshold.
    ``max_doc_freq`` (finite by default — see DEFAULT_MAX_DOC_FREQ)
    drops shingles appearing in more than that many docs before the
    inverted-index self-join; sizes and intersections are both computed
    on the capped relation, so the Jaccard stays a true set similarity
    of the capped shingle sets.  ``max_doc_freq=None`` opts out (exact,
    skew-unsafe).

    ``collapse_distinct=True`` (round 12, the fourth application of the
    distinct-text collapse — see ngram_rep_edges): the audit's OUTPUT
    is quadratic per clone group by definition, but its COMPUTE need
    not be — Jaccard is a function of the two (normalized) texts, so
    the shingle inverted index, the df-cap and the intersection
    self-join all run over distinct-content fingerprints, and the
    shared pair-audit tail (:func:`_pair_audit`) expands fingerprint
    pairs to document pairs and emits same-content cliques at 1.0
    closed-form; the doc-level legs are ∝ OUTPUT.  Crucially the
    shingle self-join no longer multiplies by duplication²: a 10×-
    tiled corpus pays 100× per shingle bucket on the direct path and
    1× here.  Bit-identical pairs (property-pinned, df-cap interplay
    included); callers gate on the footer row count
    (sources.readers.collapse_dial).
    """
    return _pair_audit(
        df, n, threshold, max_doc_freq, collapse_distinct,
        lambda overlap: _jaccard_at_least(overlap, threshold).select(
            "a_id", "b_id", "jaccard"
        ),
        directional=False,
    )


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    collapse_distinct: bool = False,
) -> DataFrame:
    """DIRECTIONAL near-containment pairs by exact n-gram containment
    C(a → b) = |A ∩ B| / |A| — the fraction of ``a``'s shingles found
    in ``b``.  Jaccard misses the quotation/extraction case (a short
    document wholly contained in a long one scores |A|/|B| ≈ 0 on
    Jaccard but 1.0 on containment); the published dedup recipes that
    strip contained documents (e.g. the suffix-array exact-substring
    family) need exactly this asymmetric measure.  No counterpart in
    the reference (its dedup surface is distinct(), JobRunner.scala);
    extension-surface operator.

    Returns (contained_id, container_id, containment) for every
    ORDERED pair of distinct documents with containment ≥ threshold —
    a clone pair appears in both directions at 1.0.  ``max_doc_freq``
    is the same df-cap as ``ngram_jaccard_pairs`` (sizes and
    intersections both computed on the capped relation, so the ratio
    is a true containment of the capped sets; docs with zero surviving
    shingles drop out).  Candidate generation is the shared-shingle
    inverted index — never an all-pairs join — and
    ``collapse_distinct=True`` runs every superlinear stage (index,
    df-cap, intersection self-join) at the distinct-content
    fingerprint level through the same pair-audit body as
    ``ngram_jaccard_pairs`` (:func:`_pair_audit`, its tail in the
    directional form); callers gate on the shared dial
    (sources.readers.collapse_dial).
    """
    def emit_both(pairs: DataFrame) -> DataFrame:
        """(a_id, b_id, n_inter, n_a, n_b) → directional rows, both ways."""
        fwd = pairs.select(
            F.col("a_id").alias("contained_id"),
            F.col("b_id").alias("container_id"),
            F.round(F.col("n_inter") / F.col("n_a"), 6).alias("containment"),
        )
        rev = pairs.select(
            F.col("b_id").alias("contained_id"),
            F.col("a_id").alias("container_id"),
            F.round(F.col("n_inter") / F.col("n_b"), 6).alias("containment"),
        )
        return fwd.unionByName(rev).filter(
            F.col("containment") >= threshold
        )

    return _pair_audit(
        df, n, threshold, max_doc_freq, collapse_distinct, emit_both,
        directional=True,
    )


def content_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The (id → md5 content-fingerprint) map — the dedup_exact digest
    standard — lazily cached.  Factored out of ``_fp_shingles`` (r14)
    so report-type consumers (q_corpus_dedup_report's corpus scalars)
    build the IDENTICAL analyzed plan and therefore hit the SAME cache
    entry as the collapse prelude: one text+md5 pass serves the
    n_docs/n_distinct_contents aggregate AND every collapse-path
    consumer in the same query.  Narrow (id, fp) rows populated inside
    the first consuming job; MEMORY_AND_DISK spills at scale;
    bench/driver clearCache() between queries (same lifetime caveat as
    the raw shingle-stream cache in
    _capped_shingles)."""
    return df.select(
        F.col(id_col), F.md5(normalize_text(text_col)).alias("__fp")
    ).cache()


def _fp_shingles(df: DataFrame, n: int) -> tuple[DataFrame, DataFrame]:
    """Shared prelude of the distinct-text collapse paths
    (ngram_rep_edges / ngram_jaccard_pairs / ngram_containment_pairs):
    the (doc_id → md5 content-fingerprint) map — the dedup_exact digest
    standard — and the per-DISTINCT-normalized-text hashed shingle
    relation (__fp, shingle), one row per (distinct text, distinct
    shingle)."""
    # fpmap is multiply consumed by EVERY caller (the multiplicity
    # aggregate + the final doc expansion(s)) and each uncached
    # consumer re-scans the corpus TEXT and re-runs the md5 — a full
    # data-scale pass.  Lazy cache (via content_fingerprints — shared
    # plan shape, shared cache entry).
    #
    # rsh is deliberately NOT cached: its consumers fork ABOVE the
    # dropDuplicates exchange, so Spark's shuffle reuse already shares
    # the scan+md5+dedup work, and the residual per-consumer recompute
    # (explode+xxhash over distinct texts) is cheaper than encoding/
    # decoding the exploded stream through the columnar cache —
    # measured +0.6-0.8 s at sf1 (dedup_ngram_capped) when it was
    # cached this round.
    fpmap = content_fingerprints(df)
    rsh = hashed_shingles(
        df.select(F.md5(normalize_text()).alias("__fp"), "text")
        .dropDuplicates(["__fp"]),
        n=n, id_col="__fp",
    )
    return fpmap, rsh


def ngram_rep_edges(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    collapse_distinct: bool = False,
    spread_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate edges against shingle-bucket REPRESENTATIVES —
    the group-shaped escape from pairwise enumeration (round-6 verdict
    #3): each document is Jaccard-verified only against the smallest-id
    document sharing each of its shingles, not against every co-shingle
    partner.  Inside a K-clone duplicate group every member shares its
    shingles with the group minimum, so the candidate set is K−1 star
    edges where the pairwise join emits K(K−1)/2 — candidate volume is
    Θ(N · distinct-reps-per-doc), linear in the corpus for any
    duplication level.  The verified edges feed ``dup_clusters``
    (curation.py) and one-representative-per-component selection.

    The Jaccard itself is EXACT on the capped shingle sets (the same
    ``max_doc_freq`` df-cap as ``ngram_jaccard_pairs``); what is
    approximate is connectivity — two near-dups whose buckets are all
    represented by an unrelated third document are not linked.  Use
    ``ngram_jaccard_pairs`` as the exact-pairs audit variant.

    Returns (a_id, b_id, jaccard), a_id < b_id (a_id is the rep).

    ``collapse_distinct=True`` is the collapse-before-shingle plan
    (round-11 verdict #5, the text-functional insight behind
    text.per_distinct_text taken to its fixpoint): near-dup structure
    is fully determined at the DISTINCT-NORMALIZED-TEXT level — every
    clone of a text has the same shingle set, the same bucket
    membership, and the same Jaccard against any other text — so not
    just the tokenize/shingle/hash expressions but EVERY superlinear
    stage (the per-bucket aggregation, the candidate enumeration, the
    intersection joins) runs over fingerprints (md5 of the normalized
    content, the dedup_exact standard).  The only ∝N legs left are two
    narrow fingerprint passes (the (id, fp) map and the per-fp
    (min id, multiplicity) aggregate — the bucket's document frequency
    is Σ multiplicities, its rep doc is the min id of the min-id fp)
    and the final expansion of fp-level edges back to (rep doc, clone
    doc) rows, which is ∝ OUTPUT.  Bit-identical edges: candidates
    expand to exactly the direct path's (rep, id>rep) pairs (a clone's
    id can only undercut its bucket's rep by BEING the rep, and the
    rep's own clones edge to it through the rep_fp==b_fp pairs), and
    the Jaccard is the same integer division at fp level.  On a
    near-unique corpus it degrades to the two narrow exchanges —
    callers gate on the footer row count (sources.readers.collapse_dial).
    """
    if collapse_distinct:
        fpmap, rsh = _fp_shingles(df, n)
        fpg = fpmap.groupBy("__fp").agg(
            F.min("doc_id").alias("fp_min"), F.count(F.lit(1)).alias("m")
        )
        g = (
            rsh.join(fpg, "__fp")
            .groupBy("shingle")
            .agg(
                F.sum("m").alias("df_"),
                F.min("fp_min").alias("rep_id"),
                F.min_by("__fp", "fp_min").alias("rep_fp"),
            )
        )
        if max_doc_freq is not None:
            g = g.filter(F.col("df_") <= max_doc_freq)
        # capped fp-level shingle relation — the analogue of the direct
        # path's cached doc-level ``sh``, smaller by the duplication
        # factor (cache, not localCheckpoint: same trade-off note as
        # _capped_shingles)
        rshc = rsh.join(
            g.select("shingle", "rep_id", "rep_fp"), "shingle"
        ).cache()
        # r13: pin the candidate stream cores-wide after its distinct
        # (footer-gated spread_small_by) — AQE coalesces the few-MB
        # distinct exchange to ~2 partitions on byte size alone, and
        # the SAME stage then runs the two intersection probes, the
        # pipeline's heaviest per-row work, nearly serial.  The keyed
        # exchange moves only the small pair stream; the probe sides
        # stay broadcast.  (A pre-partitioned CACHE was tried instead
        # and reverted: co-partitioning flips the probes from
        # broadcast joins to sort-merge joins over the full shingle
        # stream — measured 2x worse.)
        candfp = spread_small_by(
            rshc.select(
                "rep_id", "rep_fp", F.col("__fp").alias("b_fp")
            ).distinct(),
            spread_rows, "rep_fp",
        )
        fp_edges = _jaccard_at_least(
            _shingle_overlap(rshc, "__fp", "rep_fp", "b_fp", candfp), threshold
        )
        return (
            fp_edges.join(
                fpmap.select(
                    F.col("__fp").alias("b_fp"), F.col("doc_id").alias("b_id")
                ),
                "b_fp",
            )
            .filter(F.col("b_id") > F.col("rep_id"))
            .select(
                F.col("rep_id").alias("a_id"), F.col("b_id"), "jaccard"
            )
        )
    # raw-stream cache: the rep/df aggregation below and the join-back
    # that builds ``sh`` both consume sh0 — see _capped_shingles (one
    # tokenize pass, not one per consumer)
    sh0 = hashed_shingles(df, n=n).cache()
    # ONE aggregation yields both the document frequency (for the cap)
    # and the bucket representative: the cap drops whole shingle
    # buckets, never rows within a bucket, so min(id) over the raw rows
    # equals min(id) over the surviving rows.  Folding them saves a
    # second full groupBy over the shingle stream, and joining the
    # per-shingle relation back also replaces the former separate
    # rep-assignment join (each row comes back already carrying its
    # bucket's rep).
    g = sh0.groupBy("shingle").agg(
        F.count("*").alias("df_"), F.min("doc_id").alias("rep")
    )
    if max_doc_freq is not None:
        g = g.filter(F.col("df_") <= max_doc_freq)
    # cache, not localCheckpoint (see the _capped_shingles note on this
    # trade-off)
    sh = sh0.join(g.select("shingle", "rep"), "shingle").cache()
    # r13: footer-gated cores-wide pin of the candidate pair stream —
    # see the collapse path's note above (same AQE byte-blind coalesce,
    # same broadcast-preserving fix)
    cand = spread_small_by(
        sh.filter(F.col("doc_id") > F.col("rep"))
        .select(F.col("rep").alias("a_id"), F.col("doc_id").alias("b_id"))
        .distinct(),
        spread_rows, "a_id",
    )
    # exact capped-set intersection for the candidate pairs only
    return _jaccard_at_least(
        _shingle_overlap(sh, "doc_id", "a_id", "b_id", cand), threshold
    ).select("a_id", "b_id", "jaccard")


_MH_P = 4294967291  # largest 32-bit prime: range of the derived permutations


def minhash_signatures(df: DataFrame, k: int = 16, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """k-permutation MinHash signature: (id, sig_0 … sig_{k-1}).

    One aggregation over the exploded shingles — the k hash functions
    are k ``min(h_i(shingle))`` aggregates, so signature width never
    multiplies the shuffle volume.  The k permutations derive from ONE
    md5 per shingle via Kirsch-Mitzenmacher double hashing:
    ``h_i = (x1 + i·x2) mod p`` with x1/x2 the digest's two 32-bit
    halves (cross_engine_hash/_hi share the digest through Catalyst
    CSE) — k=16 md5s per shingle was the dominant cost of the whole
    minhash family (~2× wall-clock on the signature pass), and K-M
    composition preserves the uniformity minhash needs.  Max value
    x1 + 15·x2 < 2³⁶, so the arithmetic stays in native int64 on both
    engines; the oracle mirrors the same digest slices and affine
    combine (queries._minhash_sigs_sql)."""
    from .text import cross_engine_hash_hi

    sh = word_shingles(df, n=n, text_col=text_col, id_col=id_col)
    base = sh.select(
        F.col(id_col),
        cross_engine_hash(F.col("shingle"), seed="mh").alias("x1"),
        cross_engine_hash_hi(F.col("shingle"), seed="mh").alias("x2"),
    )
    # r14 (the r13 SQL-text fast path extended to the K-M aggregate
    # array, r13 verdict #2): each aggregate parses as ONE SQL string —
    # the Column form cost ~6 py4j round-trips per permutation
    # (profiled 0.44 s of the dedup_incremental build in the k=16
    # aggregate list alone).  The text spells the identical
    # min((x1 + i·x2) % p): same Add/Multiply/Remainder tree, same
    # int-literal i and long-literal p, so the resolved plan is the
    # same expression (pinned by
    # test_minhash_sql_aggs_match_column_aggs).
    aggs = [
        F.expr(f"min((x1 + {i} * x2) % {int(_MH_P)}) AS sig_{i}")
        for i in range(k)
    ]
    return base.groupBy(id_col).agg(*aggs)


def minhash_bands_rowlocal(
    df: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`minhash_bands` as a PURE PROJECTION — bit-identical
    (id, band, band_hash) rows (pinned by
    test_minhash_bands_rowlocal_equals_batch), zero shuffle, and
    therefore STREAM-legal: the batch path's explode + groupBy(min)
    is a streaming aggregation (append mode refuses it without a
    watermark), while this one computes each signature as an
    ``array_min`` over the row's own shingle array.

    min over exploded shingle ROWS equals min over the row's shingle
    ARRAY (duplicates cannot change a min — array_distinct kept only
    to shrink the transform), and the K-M affine combine runs on the
    same (x1, x2) digest halves, so every sig_i — and hence every
    xxhash64 band digest — matches the batch path exactly.  Documents
    with fewer than ``n`` tokens vanish (no shingles), exactly like
    the batch path's size filter; callers that must emit every doc
    restore them with a left join (q_docs_stream_dedup_gate).

    The batch path stays preferred for batch plans: both shapes pay
    the same md5s per distinct (doc, shingle), but the batch min()
    aggregates run whole-stage-codegen'd while this fold is an
    interpreted higher-order function (measured ~1.5x slower warm at
    sf0.1).  For a stream the trade flips — no state, no shuffle, no
    streaming-aggregation restriction, each arriving document priced
    independently."""
    assert k % bands == 0
    rows = k // bands
    toks = tokens(normalize_text(text_col))
    shingles = _shingle_array_expr(n)
    hx = F.transform(
        F.array_distinct(shingles),
        lambda s: F.struct(
            cross_engine_hash(s, seed="mh").alias("x1"),
            cross_engine_hash_hi(s, seed="mh").alias("x2"),
        ),
    )
    # EVERYTHING folds inside ONE aggregate expression, because HOF
    # lambdas are the only place Spark lets a row-local intermediate be
    # bound to a variable (evaluated once) — a plain projection column
    # gets INLINED into every consumer by CollapseProject, and HOF
    # bodies don't subexpression-eliminate, so a naive 16-column
    # formulation recomputed the md5 digests 16× (measured 2× slower
    # than the batch path; this shape beats it).  The fold:
    #   acc: running sig array, one slot per K-M permutation, seeded
    #        with _MH_P (> any h % _MH_P);
    #   merge: per shingle struct h (digests materialized ONCE in hx),
    #        slot i takes least(acc[i], (x1 + i·x2) % p) — the inner
    #        transform's (element, index) lambda form supplies i;
    #   finish: acc is BOUND, so slicing it per band and xxhash64-ing
    #        the '_'-joined decimal strings evaluates the fold once.
    band_arr = F.aggregate(
        hx,
        F.array(*[F.lit(int(_MH_P)).cast("long") for _ in range(k)]),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0).cast("long"), F.lit(k - 1).cast("long")),
            lambda a, i: F.least(a, (h["x1"] + i * h["x2"]) % F.lit(_MH_P)),
        ),
        lambda acc: F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bi: F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(acc, bi * rows + 1, rows),
                        lambda v: v.cast("string"),
                    ),
                    "_",
                )
            ),
        ),
    )
    return (
        df.select(F.col(id_col), toks.alias("t"))
        .filter(F.size("t") >= n)
        .select(F.col(id_col), F.posexplode(band_arr).alias("band_idx", "band_hash"))
        .select(
            F.col(id_col),
            F.col("band_idx").cast("string").alias("band"),
            "band_hash",
        )
    )


def minhash_bands(
    df: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH band stack: (id, band, band_hash) — ``bands`` rows per doc.

    Signatures split into ``bands`` bands of ``k/bands`` rows each;
    docs sharing a (band, band_hash) are LSH candidates.  Shared by
    :func:`minhash_lsh_pairs` (candidate join) and the bucket-size
    skew diagnostic (catalog.dedup.q_dedup_band_histogram)."""
    banded = minhash_bands_wide(df, k=k, bands=bands, n=n, text_col=text_col,
                                id_col=id_col)
    return banded.selectExpr(
        id_col,
        "stack({}, {}) AS (band, band_hash)".format(
            bands, ", ".join(f"'{bi}', band_{bi}" for bi in range(bands))
        ),
    )


def minhash_bands_wide(
    df: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WIDE band table: (id, band_0 … band_{bands-1}), one row per doc.

    The wide shape is what :func:`band_collision_pairs` needs — a
    candidate pair can be claimed by its FIRST colliding band only when
    each row carries every band digest.  :func:`minhash_bands` stacks
    this to the long (id, band, band_hash) diagnostic shape."""
    assert k % bands == 0
    rows = k // bands
    sigs = minhash_signatures(df, k=k, n=n, text_col=text_col, id_col=id_col)
    band_cols = []
    for bi in range(bands):
        # band digest is an internal join key only — xxhash64 gives an
        # 8-byte key (vs a 32-char md5 string) with identical grouping.
        # r14: one SQL parse per band instead of ~rows+2 py4j calls
        # (same xxhash64/concat_ws/cast tree — see the aggregate note
        # in minhash_signatures).
        casts = ",".join(
            f"CAST(sig_{bi * rows + j} AS STRING)" for j in range(rows)
        )
        band_cols.append(
            F.expr(f"xxhash64(concat_ws('_', {casts})) AS band_{bi}")
        )
    return sigs.select(F.col(id_col), *band_cols)


def first_collision_claim(
    band_col: str, a_prefix: str, b_prefix: str, bands: int
) -> F.Column:
    """Predicate: the current row's band index (``band_col``) is the
    FIRST band where the pair collides — every earlier band's digests
    (columns ``{a_prefix}{u}`` / ``{b_prefix}{u}``) differ.  Shared by
    :func:`band_collision_pairs` and
    ``similarity.embedding_cosine_pairs`` so the subtle claiming
    construction exists exactly once."""
    claimed = F.lit(True)
    for t in range(bands):
        earlier_differs = F.lit(True)
        for u in range(t):
            earlier_differs = earlier_differs & (
                F.col(f"{a_prefix}{u}") != F.col(f"{b_prefix}{u}")
            )
        claimed = F.when(F.col(band_col) == t, earlier_differs).otherwise(claimed)
    return claimed


def band_collision_pairs(
    wide: DataFrame,
    bands: int = 4,
    id_col: str = "doc_id",
    a_name: str = "a_id",
    b_name: str = "b_id",
) -> DataFrame:
    """Unique LSH candidate pairs via FIRST-colliding-band claiming.

    The naive OR-banding enumeration joins each band independently and
    `distinct`s the union — but true near-duplicates collide in EVERY
    band, so exactly the pairs that matter are emitted ``bands`` times
    and shuffled once more to dedup.  Here every row carries all band
    digests (the wide shape), the equi-join still runs per band, and a
    pair is kept only in its first colliding band (all earlier bands
    differ) — each unordered pair survives exactly once by
    construction, so the ``distinct`` disappears and downstream
    verification work is paid once per pair, not once per collision.
    The output SET is provably identical to the distinct-of-unions.
    A self-join: pairs are filtered to ``a_name < b_name``.
    """
    def expand(ident: str, prefix: str) -> DataFrame:
        return (
            wide.select(
                F.col(id_col).alias(ident),
                *[F.col(f"band_{i}").alias(f"{prefix}{i}") for i in range(bands)],
            )
            .withColumn(
                "band",
                F.explode(F.array(*[F.lit(i).cast("int") for i in range(bands)])),
            )
            .withColumn(
                "band_hash",
                F.element_at(
                    F.array(*[F.col(f"{prefix}{i}") for i in range(bands)]),
                    F.col("band") + 1,
                ),
            )
        )

    pairs = expand(a_name, "ab_").join(expand(b_name, "bb_"), ["band", "band_hash"])
    claimed = first_collision_claim("band", "ab_", "bb_", bands)
    return (
        pairs.filter(F.col(a_name) < F.col(b_name))
        .filter(claimed)
        .select(a_name, b_name)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """LSH-banded candidate generation + exact-Jaccard verification.

    Signatures are split into ``bands`` bands of ``k/bands`` rows; docs
    sharing any band hash become candidates (equi-join on the band
    digest); candidates are verified with exact shingle Jaccard.
    Returns (a_id, b_id, jaccard ≥ threshold).
    """
    stacked = minhash_bands(df, k=k, bands=bands, n=n)
    # narrow per-band join + distinct, NOT first-colliding-band
    # claiming (band_collision_pairs): here the exact-Jaccard verify
    # already runs after the distinct, so claiming would only trade the
    # narrow pair-dedup shuffle for bands x wider join rows — measured
    # a wash at sf1 and 13-30% SLOWER at sf3's K~30 duplication (see
    # SCALE.md round-7 addendum).  Claiming pays off only when
    # per-collision verification work precedes the distinct (the
    # simhash hamming / embedding cosine paths, which do use it).
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    # exact-Jaccard verification restricted to the candidate pairs — the
    # pairwise join runs over candidates only, never all-pairs
    sh = hashed_shingles(df, n=n).cache()
    return _jaccard_at_least(
        _shingle_overlap(sh, "doc_id", "a_id", "b_id", cand), threshold
    ).select("a_id", "b_id", "jaccard")


def verify_batch_candidates(
    cand: DataFrame,
    batch: DataFrame,
    corpus: DataFrame,
    n: int,
    threshold: float,
    new_col: str = "new_id",
) -> DataFrame:
    """Exact-Jaccard verification of incremental-ingest candidates.
    ``cand`` rows pair a batch doc (``new_col``) with an earlier doc
    (``old_id``, from ``corpus`` or ``batch``); the rows whose Jaccard
    is ≥ ``threshold`` come back with (n_inter, n_a, n_b, jaccard).

    Shingles are fetched for the batch plus ONLY the corpus docs that
    appear as candidates (left-semi pushdown), so the corpus-side work
    stays proportional to the batch and the big side's text is never
    re-shuffled.  ``batch`` and ``corpus`` ids must be disjoint (see
    :func:`incremental_dedup_flags`)."""
    sh_c = hashed_shingles(corpus, n=n).join(
        cand.select(F.col("old_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    sh = hashed_shingles(batch, n=n).unionByName(sh_c).cache()
    return _jaccard_at_least(
        _shingle_overlap(sh, "doc_id", new_col, "old_id", cand), threshold
    )


def incremental_dedup_flags(
    corpus: DataFrame,
    batch: DataFrame,
    k: int = 16,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.2,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental MinHash-LSH dedup: flag each NEW (batch) document
    that near-duplicates the EXISTING corpus or a lower-id document in
    the batch itself.  Returns one row per batch doc:
    ``(doc_id, n_dup_corpus, n_dup_batch, is_new)`` with
    ``is_new = (both counts are 0)`` — the keep set of an append-only
    ingest (the min-id keep rule matches :func:`dedup_exact`).

    THE 100 TB ingestion shape: a daily crawl lands next to an
    N-billion-doc corpus, and re-pairing the corpus against itself is
    off the table.  This plan never self-joins the corpus:

    - the corpus contributes only its band table ``(id, band,
      band_hash)`` to the candidate equi-join (in production that
      table is computed once at ingest and stored — banding is
      per-document, so it never needs recomputation when new batches
      arrive);
    - candidates are (batch × corpus) and (batch × earlier-batch) band
      collisions only — the join fans out per bucket, never per
      corpus pair;
    - exact-Jaccard verification fetches shingles for the batch plus
      ONLY the corpus docs that appear as candidates (left-semi
      pushdown), so the big side's text is never re-shuffled.

    PRECONDITION: ``corpus`` and ``batch`` ids must be DISJOINT (an
    append-only ingest assigns new ids past the corpus high-water
    mark).  The Jaccard verification unions both sides' shingle sets
    keyed on ``doc_id`` alone; a shared id would silently merge two
    different documents' shingles and double-count sizes and
    intersections.  The catalog caller satisfies this structurally
    (``hash_split`` partitions are disjoint); external callers must
    re-key one side first.
    """
    # ``corpus_bands`` injects the PRE-COMPUTED (id, band, band_hash)
    # table the docstring promises ("computed once at ingest and
    # stored") — q_dedup_incremental_persisted passes the parquet
    # read-back, so the corpus text is never re-shingled for banding;
    # it is still read for the candidate-only Jaccard verification,
    # which is proportional to the batch by the semi-join in
    # verify_batch_candidates.
    stacked_c = corpus_bands if corpus_bands is not None else minhash_bands(
        corpus, k=k, bands=bands, n=n)
    stacked_b = minhash_bands(batch, k=k, bands=bands, n=n)
    # narrow band joins + distinct, not first-colliding-band claiming —
    # verification runs post-distinct here, so claiming loses (see the
    # note in minhash_lsh_pairs)
    nw, old_c = stacked_b.alias("nw"), stacked_c.alias("old")
    cand_corpus = (
        nw.join(old_c, ["band", "band_hash"])
        .select(
            F.col("nw.doc_id").alias("new_id"),
            F.col("old.doc_id").alias("old_id"),
        )
        .distinct()
        .withColumn("src", F.lit("corpus"))
    )
    a, b = stacked_b.alias("a"), stacked_b.alias("b")
    cand_batch = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("b.doc_id").alias("new_id"),
            F.col("a.doc_id").alias("old_id"),
        )
        .distinct()
        .withColumn("src", F.lit("batch"))
    )
    cand = cand_corpus.unionByName(cand_batch)
    verified = verify_batch_candidates(cand, batch, corpus, n, threshold)
    per_doc = verified.groupBy("new_id").agg(
        F.sum(F.when(F.col("src") == "corpus", 1).otherwise(0)).alias("n_dup_corpus"),
        F.sum(F.when(F.col("src") == "batch", 1).otherwise(0)).alias("n_dup_batch"),
    )
    return (
        batch.select("doc_id")
        .join(per_doc.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_corpus", F.lit(0)).cast("long").alias("n_dup_corpus"),
            F.coalesce("n_dup_batch", F.lit(0)).cast("long").alias("n_dup_batch"),
            (
                F.coalesce("n_dup_corpus", F.lit(0)) + F.coalesce("n_dup_batch", F.lit(0))
                == 0
            ).alias("is_new"),
        )
    )


def fuzzy_pairs_ed1(df: DataFrame, text_col: str = "name",
                    id_col: str = "id") -> DataFrame:
    """All pairs within Levenshtein distance ≤ 1, SymSpell-style: join
    on the DELETION NEIGHBORHOOD D(s) = {s} ∪ {s minus position i}
    instead of comparing all pairs.  Returns (a_id, b_id, dist) with
    a_id < b_id — the entity-resolution primitive (near-identical
    names/titles/SKUs).

    Completeness (why the equi-join misses nothing at distance ≤ 1):
    equal strings share s itself; a substitution at position i means
    both sides' delete-i variants are equal; an insertion/deletion
    means the longer string's deletion equals the shorter string
    verbatim.  The neighborhood also collides some distance-2 pairs
    (e.g. "ab"/"ba" share variant "a"), so candidates are verified
    with exact ``levenshtein`` — verification is per-candidate, never
    all-pairs.

    Scale: variants multiply rows by (len+1) — bounded by string
    length, not corpus size — and candidate generation is a plain
    equi-join on the variant key, the same inverted-index shape as the
    shingle joins.  A variant shared by k strings emits C(k,2)
    candidates; for name-like columns k is the number of strings one
    edit apart, which is alphabet-bounded — if a corpus has massive
    exact-duplicate name groups, exact-dedup them first (dedup_exact)
    exactly as you would before any pairwise operator."""
    s = df.select(F.col(id_col).alias("fid"), F.col(text_col).alias("fname"))
    variants = s.select(
        "fid",
        "fname",
        F.explode(
            F.expr(
                "transform(sequence(0, length(fname)), i -> IF(i = 0, fname,"
                " concat(substring(fname, 1, i - 1), substring(fname, i + 1))))"
            )
        ).alias("v"),
    ).distinct()  # repeated characters produce duplicate variants
    a = variants.select(
        F.col("fid").alias("a_id"), F.col("fname").alias("a_name"), "v"
    )
    b = variants.select(
        F.col("fid").alias("b_id"), F.col("fname").alias("b_name"), "v"
    )
    cand = (
        a.join(b, "v")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_name", "b_name")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("a_name", "b_name"))
        .filter(F.col("dist") <= 1)
        .select("a_id", "b_id", F.col("dist").cast("long").alias("dist"))
    )


def simhash(df: DataFrame, bits: int = 32, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """SimHash over whitespace tokens: (id, simhash long).

    Each token votes ±1 per bit of its hash; bit b of the result is
    set iff the summed vote is positive — equivalently iff
    ``2·ones_b > n_tokens``, which is how it's computed here: the
    token array is hashed ONCE per row with a higher-order
    ``transform`` (md5 evaluated once per token — the hashed arrays
    are materialized as projection columns, and Catalyst's
    CollapseProject keeps multi-referenced non-trivial expressions
    un-inlined), then each bit's ones-count is a row-local
    ``filter``+``size`` over the hashed longs.  The signature pass is
    therefore EMBARRASSINGLY PARALLEL — zero shuffle, where the
    previous explode + 32-aggregate groupBy shuffled |tokens|× rows
    and paid a heavy first-run codegen/JIT cost (the 20 s cold
    `dedup_clusters` bench artifact).  Results are bit-identical to
    the vote formulation (pinned by oracle parity: the DuckDB twin
    still computes ±1 votes).

    ``bits`` ∈ {32, 64}.  The 64-bit form (the 100 TB path — wider
    band keys keep LSH buckets sparse, see simhash_pairs) draws bits
    32..63 from hex chars 9-16 of the SAME md5 digest
    (text.cross_engine_hash_hi), so it stays bit-exact cross-engine;
    bit 63 lands on the long's sign bit, so its weight is the signed
    value −2⁶³ on both engines.  Documents with zero tokens emit no
    row (matching the explode formulation, where they never reached
    the aggregate)."""
    if bits not in (32, 64):
        raise ValueError(f"bits must be 32 or 64, got {bits}")
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = tokens(normalize_text(text_col))
    hashed_lo = F.transform(toks, lambda t: cross_engine_hash(t, seed="sh"))
    cols = [F.col(id_col), F.size(toks).alias("_n"), hashed_lo.alias("_hl")]
    if bits == 64:
        hashed_hi = F.transform(
            toks, lambda t: cross_engine_hash_hi(t, seed="sh")
        )
        cols.append(hashed_hi.alias("_hh"))
    # spread rows before the per-row hashing work (few input splits
    # must not serialize the md5 pass into few tasks — same rationale
    # as word_shingles, minus the shuffle that used to follow)
    base = df.repartition(par).filter(F.size(toks) > 0).select(*cols)

    return base.select(F.col(id_col), _simhash_sum_expr(bits).alias("simhash"))


def _simhash_sum_expr(bits: int) -> F.Column:
    """The per-row signature fold over the projected ``_hl``/``_hh``/
    ``_n`` columns, as ONE SQL string parsed JVM-side (one py4j call;
    spelled Column-by-Column it cost ~10 round-trips per bit, ≈1.5 s of
    driver time per 32-bit simhash build).  Bit ``b`` counts the token
    hashes with that bit set (``_hl`` for bits 0-31, ``_hh`` for 32-63)
    and adds its weight when more than half of the ``_n`` tokens vote
    for it; the terms are summed in bit order.  Each term is a distinct
    power of two or 0, so partial sums never overflow and the total is
    exactly the signed 64-bit pattern.  tests/test_properties.py pins
    the fold to a pure-Python vote over the same arrays."""

    def _ones_sql(b: int) -> str:
        src = "_hl" if b < 32 else "_hh"
        return f"size(filter({src}, h -> (shiftright(h, {b % 32}) & 1) = 1))"

    def _weight_sql(b: int) -> str:
        # bit 63 is the two's-complement sign bit: the +2⁶³ literal
        # overflows a BIGINT, so spell −2⁶³ as arithmetic
        return "(-9223372036854775807L - 1L)" if b == 63 else f"{2 ** b}L"

    return F.expr(" + ".join(
        f"(CASE WHEN {_ones_sql(b)} * 2 > _n"
        f" THEN {_weight_sql(b)} ELSE 0L END)"
        for b in range(bits)
    ))


def simhash_pairs(df: DataFrame, max_hamming: int = 3, bits: int = 32,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """ALL near-duplicate pairs within ``max_hamming`` SimHash bits —
    exact result, bucketed execution (no cross join, no recall loss).

    Multi-block banding (Manku et al. 2007, "Detecting Near-Duplicates
    for Web Crawling"): split the ``bits``-wide simhash into
    ``m = max_hamming + 2`` contiguous blocks.  A pair within hamming
    distance ``k`` differs in at most ``k`` blocks, so at least 2 of
    its ``k + 2`` blocks match exactly — blocking on every C(m, 2)
    pair of blocks is therefore *complete*: the equi-join on
    (band, key) produces every qualifying pair, and the bit_count
    verify + distinct removes false candidates and multi-band dupes.
    (The previous single 8-bit-prefix scheme missed any pair differing
    in a high bit AND packed all docs into 256 buckets — quadratic
    within buckets at corpus scale.  Band keys here carry
    ~2·bits/m bits, so bucket counts grow with the signature, and at
    100 TB you widen the signature — ``bits=64`` gives ~26-bit
    two-block band keys at k = 3 — rather than shrink recall.)"""
    m = max_hamming + 2
    if m > bits:
        raise ValueError(f"max_hamming={max_hamming} needs more blocks than {bits} bits")
    base, rem = divmod(bits, m)
    widths = [base + 1] * rem + [base] * (m - rem)
    offsets = [sum(widths[:i]) for i in range(m)]
    # shiftrightUNSIGNED: a 64-bit signature with bit 63 set is a
    # negative long, and an arithmetic shift would smear 1s into every
    # high block; logical shift is identical for the nonneg 32-bit case
    blocks = [
        F.shiftrightunsigned(F.col("simhash"), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )
        for i in range(m)
    ]
    band_keys = []
    for i in range(m):
        for j in range(i + 1, m):
            # key = block_i ++ block_j.  The band index is the wide
            # column POSITION (band_collision_pairs joins per band), so
            # no band tag inside the key is needed.
            # shiftleft|or, NOT multiply+add: with bits=64 and m=2 the
            # blocks are 32 wide and block_i << 32 can set the sign
            # bit — the bit ops wrap in two's complement (the key is
            # just a join label), where ANSI mode makes `*` throw
            # ARITHMETIC_OVERFLOW
            band_keys.append(
                F.shiftleft(blocks[i], widths[j]).bitwiseOR(blocks[j]).cast("long")
            )
    # materialize the signatures once — three consumers below (distinct
    # signatures, both expansion sides, the twins self-join) and without
    # lineage truncation the 32-aggregate simhash computation (the
    # expensive part) would run once per consumer.  The signature frame
    # is (id, 8-byte hash): tiny next to the corpus.
    s = simhash(df, bits=bits, text_col=text_col, id_col=id_col).localCheckpoint()
    # SIGNATURE COLLAPSE (round-9, the dedup_clusters round-8 insight
    # pushed down to the pair enumeration itself): the signature is a
    # pure function of the text, so clone groups share one signature
    # and the doc-level band join pays |A|·|B| collisions per colliding
    # band — near-identical groups collide in EVERY C(m,2) band, ~10×
    # the (already Θ(Σ|A|·|B|)) verified-pair volume in raw join output
    # before claiming filters it (measured ~257M intermediate rows for
    # 25.7M pairs at sf1's ×10 tiling, the fence panel's most
    # schedule-sensitive row).  Banding therefore runs over DISTINCT
    # signatures only (duplication-independent, tiny), and the doc
    # pairs come back via two narrow expansion joins:
    #   - cross groups: a rep-level pair (sig_a ≠ sig_b, hamming ≥ 1)
    #     expands through both membership sides, (least, greatest)
    #     restoring the a_id < b_id order;
    #   - within groups: same-signature docs are hamming-0 pairs — one
    #     equi-self-join on the signature, id-ordered.
    # Every unordered pair is emitted exactly once (one signature per
    # doc → one rep pair or the twins leg, never both) and the Manku
    # completeness argument applies unchanged at the signature level,
    # so the output SET is identical — pinned by the ORACLE, which is
    # the brute-force all-pairs scan (catalog.dedup.q_dedup_simhash_pairs):
    # parity proves zero recall loss for the collapse, not just for
    # the banding.
    sigs = s.select("simhash").distinct()
    wide = sigs.select(
        F.col("simhash"),
        *[k.alias(f"band_{bi}") for bi, k in enumerate(band_keys)],
    )
    rep_pairs = (
        band_collision_pairs(
            wide, bands=len(band_keys), id_col="simhash",
            a_name="a_sig", b_name="b_sig",
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig"))),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    ma = s.select(F.col("simhash").alias("a_sig"), F.col(id_col).alias("_x"))
    mb = s.select(F.col("simhash").alias("b_sig"), F.col(id_col).alias("_y"))
    cross = rep_pairs.join(ma, "a_sig").join(mb, "b_sig").select(
        F.least("_x", "_y").alias("a_id"),
        F.greatest("_x", "_y").alias("b_id"),
        "hamming",
    )
    sa, sb = s.alias("sa"), s.alias("sb")
    twins = (
        sa.join(sb, "simhash")
        .filter(F.col(f"sa.{id_col}") < F.col(f"sb.{id_col}"))
        .select(
            F.col(f"sa.{id_col}").alias("a_id"),
            F.col(f"sb.{id_col}").alias("b_id"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(twins)


def simhash_clusters_collapsed(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Connected components over the simhash near-dup graph, with
    EXACT-duplicATE COLLAPSE first — identical output to
    ``dup_clusters(simhash_pairs(docs))``, at Θ(distinct texts) pair
    cost instead of Θ(Σ clone_group²).

    The round-8 sf3 octave caught the direct composition's cliff:
    simhash signatures are a pure function of the text, so every
    clone of a text collides with every clone of every near-dup text
    — the verified pair relation grows ∝ K² per K-clone group (69.9M
    pairs at sf3's K≈30 tiling, 17 s to enumerate before CC even
    starts).  But those pairs carry no new connectivity: clones of
    one text share a signature (hamming 0), so the component
    structure over DOCS is exactly the component structure over
    DISTINCT TEXTS, expanded by the exact-duplicate groups.  Hence:

    1. fingerprint each doc (sha2 of the raw text — byte-identical
       duplicates, the standard exact-dedup key) and take the min-id
       REPRESENTATIVE per fingerprint (one shuffle on fp);
    2. run the complete Manku banding + CC over representatives only
       — pair volume is now corpus-duplication-INDEPENDENT;
    3. map members back through (fp → rep → component label).  A
       component's full-graph cluster_id is the min doc id it
       reaches, every exact group's min is its rep, so the min over
       the component's docs IS the min over its reps — the rep-level
       label is the exact doc-level label.  Membership also maps
       exactly: the full graph pairs a doc iff its group has ≥ 2
       clones (hamming-0 twin) or its text has a near-dup text
       (rep-level pair).

    At 100 TB this is a strict win: the collapse costs one narrow
    (id, fp) shuffle; rep-level work equals the old path's when the
    corpus has no exact dups and shrinks with every one it has.
    The rep map scales with distinct texts, so both mapping joins are
    shuffle joins (AQE broadcasts them when small), never a driver
    collect."""
    from .curation import dup_clusters

    # only signature-ELIGIBLE docs participate: simhash emits no row
    # for zero-token texts, so the full graph can never pair them —
    # including them here would invent hamming-0 twin clusters for
    # byte-identical punctuation-only/empty docs the direct path
    # (and the oracle) never emit
    eligible = docs.filter(F.size(tokens(normalize_text(text_col))) > 0)
    # (id, fp) is consumed twice — the rep aggregate and the final
    # member map-back — and each uncached consumer re-runs the full
    # text scan + sha2 + tokenize-eligibility filter (r13 profile:
    # one ~10 executor-second stage per consumer).  Narrow rows; lazy
    # cache populates inside the first job; bench/driver clearCache()
    # between queries.
    member = eligible.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("_fp")
    ).cache()
    reps = member.groupBy("_fp").agg(
        F.min(id_col).alias("_rep"), F.count(F.lit(1)).alias("_n")
    )
    # semi-join the RAW docs, not ``eligible``: every _rep id came out
    # of the eligible set, so the filter is implied by the join — and
    # skipping it saves a second full tokenize pass over the corpus
    # text (r13 profile: the query's single heaviest stage, ~20
    # executor-seconds at sf0.1)
    rep_docs = docs.join(
        reps.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
    )
    rep_pairs = simhash_pairs(
        rep_docs, max_hamming=max_hamming, bits=bits,
        text_col=text_col, id_col=id_col,
    )
    rep_labels = dup_clusters(rep_pairs).select(
        F.col("doc_id").alias("_rep"), F.col("cluster_id").alias("_label")
    )
    # a rep with no rep-level pair but >= 2 clones still clusters (its
    # clones are hamming-0 pairs in the full graph): label = rep id
    rep_info = reps.join(rep_labels, "_rep", "left").select(
        "_fp",
        F.coalesce("_label", F.col("_rep")).alias("_label"),
        (F.col("_n") >= 2).alias("_twins"),
        F.col("_label").isNotNull().alias("_paired"),
    )
    return (
        member.join(rep_info, "_fp")
        .filter(F.col("_paired") | F.col("_twins"))
        .select(F.col(id_col).alias("doc_id"), F.col("_label").alias("cluster_id"))
    )
