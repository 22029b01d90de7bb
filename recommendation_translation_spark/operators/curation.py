"""Corpus-curation operators for training-data pipelines (extension
surface; complements operators.text and operators.dedup).

All single-document metrics are native Column expressions (whole-stage
codegen, linear scale-out, SQL-oracle-verifiable).  The one iterative
operator — duplicate-cluster assignment — is a bounded fixpoint of
DataFrame joins (see ``dup_clusters``).

Design notes for 100 TB:

- every per-document stage is embarrassingly parallel: no shuffle at
  all until an aggregation/join is asked for;
- ``hash_split`` is deterministic in the document id — re-running the
  pipeline on a grown corpus never moves an old document across splits
  (the property training pipelines need for train/test hygiene);
- ``token_budget_sample`` and ``interleave_sources`` order the whole
  corpus, but through the two-pass range-partitioned formulation in
  ``operators.ordering`` — no single-reducer ``Window.orderBy``
  anywhere;
- ``dup_clusters`` does O(log n) self-joins; each iteration is a plain
  shuffle join AQE can re-plan, and the edge set (near-dup pairs) is
  orders of magnitude smaller than the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import text_key, tokens

__all__ = [
    "quality_flags",
    "repetition_stats",
    "pii_redact",
    "hash_split",
    "token_budget_sample",
    "dup_clusters",
    "stratified_sample",
    "interleave_sources",
    "keep_best_per_pair",
    "doc_ngrams",
    "maximal_dup_spans",
    "duplicate_span_removal_maximal",
    "bloom_decontaminate",
    "blocklist_filter",
    "pack_sequences",
    "source_quota",
    "corpus_profile",
    "dsir_select",
    "shard_divergence",
    "EMAIL_RE",
    "PHONE_RE",
]

# Conservative patterns that parse identically under Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"


def quality_flags(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  min_words: int = 50, max_words: int = 100_000,
                  min_mean_word_len: float = 2.0, max_mean_word_len: float = 12.0,
                  max_symbol_ratio: float = 0.1) -> DataFrame:
    """Gopher/C4-style boolean quality gates, one column per rule plus
    the conjunction — the cheap first pass of a corpus pipeline.

    Rules (Rae et al. 2021 "Scaling Language Models" app. A; Raffel et
    al. 2020 C4): word-count bounds, mean-word-length bounds, symbol
    ratio (# and … vs words), bullet/ellipsis line ratios, and the C4
    lorem-ipsum / curly-brace tripwires.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks)
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    mean_word_len = F.length(F.regexp_replace(t, r"\s+", "")) / safe_words
    n_symbols = F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\."), F.lit(0)))
    lines = F.split(t, r"\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    n_bullet = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^([-*•])")))
    n_ellipsis = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.$")))

    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mean_len = (mean_word_len >= min_mean_word_len) & (mean_word_len <= max_mean_word_len)
    ok_symbols = (n_symbols / safe_words) <= max_symbol_ratio
    ok_bullets = (n_bullet / n_lines) <= 0.9
    ok_ellipsis = (n_ellipsis / n_lines) <= 0.3
    ok_lorem = ~F.lower(t).contains("lorem ipsum")
    ok_braces = ~t.contains("{")

    keep = (ok_words & ok_mean_len & ok_symbols & ok_bullets & ok_ellipsis
            & ok_lorem & ok_braces)
    return df.select(
        F.col(id_col),
        F.col("n_chars") if "n_chars" in df.columns else F.length(t).alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        ok_words.alias("ok_words"),
        ok_mean_len.alias("ok_mean_word_len"),
        ok_symbols.alias("ok_symbol_ratio"),
        ok_bullets.alias("ok_bullet_lines"),
        ok_ellipsis.alias("ok_ellipsis_lines"),
        ok_lorem.alias("ok_no_lorem"),
        ok_braces.alias("ok_no_braces"),
        keep.alias("keep"),
    )


def repetition_stats(df: DataFrame, n: int = 2, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Repetition metrics: fraction of the document taken by its single
    most frequent word n-gram, and distinct/total n-gram ratio.

    The Gopher "repetition" family — high top-ngram share ⇒ boilerplate
    or looping generations.  Explode + two aggregations; the shuffle key
    is (doc, ngram) so it scales with corpus size, not document count.
    """
    toks = tokens(F.col(text_col))
    parts = ", ".join(f"t[i + {j}]" for j in range(n))
    grams = F.expr(f"transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', {parts}))")
    g = (
        df.select(F.col(id_col), toks.alias("t"))
        .filter(F.size("t") >= n)
        .select(F.col(id_col), F.explode(grams).alias("gram"))
    )
    per_gram = g.groupBy(id_col, "gram").agg(F.count("*").alias("c"))
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.max("c").alias("top_gram_count"),
            F.sum("c").alias("n_grams"),
            F.count("*").alias("n_distinct_grams"),
        )
        .select(
            F.col(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_distinct_grams").cast("long").alias("n_distinct_grams"),
            F.round(F.col("top_gram_count") / F.col("n_grams"), 6).alias("top_gram_ratio"),
            F.round(F.col("n_distinct_grams") / F.col("n_grams"), 6).alias("distinct_ratio"),
        )
    )


def pii_redact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Redact emails and phone-number-shaped spans, keeping counts.

    Pure ``regexp_replace``/``regexp_extract_all`` — codegen'd, no UDF.
    Returns (id, redacted text, n_emails, n_phones).
    """
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    redacted = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_phones = F.size(F.regexp_extract_all(redacted, F.lit(PHONE_RE), F.lit(0)))
    redacted = F.regexp_replace(redacted, PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col),
        redacted.alias("text"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
    )


def hash_split(df: DataFrame, id_col: str = "doc_id",
               train: int = 80, val: int = 10, salt: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment by hashing the id into
    100 buckets: [0, train) → train, [train, train+val) → val, rest →
    test.  Stable under corpus growth and engine-independent (md5)."""
    if train < 0 or val < 0 or train + val > 100:
        raise ValueError(f"train+val must fit in 100 buckets, got {train}+{val}")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{salt}:"),
                                          F.col(id_col).cast("string"))), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return df.withColumn("split_bucket", bucket).withColumn(
        "split",
        F.when(F.col("split_bucket") < train, "train")
        .when(F.col("split_bucket") < train + val, "val")
        .otherwise("test"),
    )


def token_budget_sample(df: DataFrame, budget_tokens: int,
                        quality_col: str = "quality", tokens_col: str = "n_tokens",
                        id_col: str = "doc_id",
                        carry_cols: tuple[str, ...] = (),
                        join_back: bool = True) -> DataFrame:
    """Select the highest-quality documents until a global token budget
    is reached: rank by (quality desc, id) and keep every document whose
    *running* token total stays within budget.

    The running sum is the two-pass range-partitioned formulation
    (operators.ordering) — identical values to a global running-sum
    window, but with no ``Exchange SinglePartition`` in the plan, so
    the sort parallelizes at any corpus size.  The ordering pass runs
    over a NARROW (id, quality, n_tokens) projection — the document
    bodies never enter the range shuffle or its checkpoint — and the
    budget-bounded keep set is joined back onto the corpus (AQE
    broadcasts it when small).  The first document is always kept (a
    budget below the best document's length yields that one document,
    not zero).

    ``carry_cols`` names additional ``df`` columns to ride INSIDE the
    ordering pass's narrow projection (and its checkpoint) instead of
    being recomputed on the join-back side: when those columns are
    expensive expressions over the document text (round-10: the
    whitespace token count beside a BPE piece count), carrying them
    means the corpus text is evaluated exactly ONCE — without it the
    join-back side re-evaluates its surviving expression columns over
    the WHOLE corpus just to keep ~budget/mean_len rows (measured 50.5
    → ~19 s at sf3 on corpus_bpe_budget).

    The ordering pass always materializes its input once
    (``materialize_input=True``): this operator's input is by
    construction an expensive text lineage (a quality score + token
    count over the document bodies — regex-heavy expressions), and the
    range sampler and the shuffle map pass would otherwise EACH
    re-evaluate it (a 4× wall multiplier at sf3 on corpus_bpe_budget;
    ~1.5× at sf0.1 on corpus_token_budget on a host with slow string
    ops).  Cheap-lineage callers of the raw primitives keep the
    default False, where the extra checkpoint costs more than it saves.

    ``join_back=False`` (round-11): return the checkpointed narrow
    selection itself — (id, carry, quality, tokens, running_tokens) —
    without re-attaching the corpus columns.  A caller whose output
    needs ONLY those columns should pass False: the join back to ``df``
    re-evaluates df's surviving lineage over the WHOLE corpus just to
    keep ~budget/mean_len rows — one wasted parquet re-scan on a raw
    corpus, and a full re-execution of the fingerprint join once the
    piece count became collapse-before-count (measured on
    corpus_bpe_budget at sf3: ~24 s with the join-back vs ~7 s
    without, identical rows).
    """
    from .ordering import range_partitioned_running_sum

    narrow = df.select(id_col, *carry_cols, quality_col, tokens_col)
    ranked = range_partitioned_running_sum(
        narrow,
        [F.col(quality_col).desc(), F.col(id_col)],
        tokens_col,
        out_col="running_tokens",
        materialize_input=True,
    )
    sel = ranked.filter(
        (F.col("running_tokens") <= budget_tokens)
        | (F.col("running_tokens") == F.col(tokens_col))  # first doc
    )
    if not join_back:
        return sel
    # quality/token/carried columns come from the checkpointed
    # selection, so the corpus side contributes only its remaining
    # columns — a caller that projects narrow columns never recomputes
    # the quality lineage.
    return df.drop(quality_col, tokens_col, *carry_cols).join(sel, id_col)


# When at most this many (u, v) pair rows come back from the bounded
# driver fetch in ``dup_clusters``, connected components runs as a
# driver-side union-find over them instead of iterated distributed
# joins: the iterative path costs ~5 Spark jobs PER ROUND regardless
# of edge count, so a 240-edge graph pays ~2 s of pure scheduling for
# microseconds of actual work.  The constant bounds the pair rows
# fetched to the driver (at most this many plus one; 200k id pairs
# Arrow-fetch to ~3 MB) — the same bounded-relation standard as a
# broadcast threshold — and the distributed pointer-jumping path
# remains the plan above the gate.
# r13 re-measure (3 alternating same-window rounds, dedup_clusters'
# 75k-edge rep graph): driver 2.9-4.6 s vs distributed 5.1-7.1 s —
# the r10 "wash" at this size predated the fixpoint scope's job
# accounting and was host-noise; the win is now unambiguous, so the
# gate moved up a decade (r10 value 20k).  Union-find on 200k edges is
# single-digit milliseconds; the fetch, not the find, is the bound.
DRIVER_CC_MAX_EDGES = 200_000


def _union_find_labels(spark, uv, utype) -> DataFrame:
    """(doc_id, cluster_id = min id in the component) by union-find over
    the Arrow table ``uv`` of ``(u, v)`` pairs (no NULLs; duplicates,
    reversed duplicates and self-loops are harmless), shipped back as
    ONE Arrow table typed from ``utype``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(uv.column("u").to_pylist(), uv.column("v").to_pylist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    groups: dict = {}
    for node in parent:
        groups.setdefault(find(node), []).append(node)
    rows = [(node, min(members)) for members in groups.values() for node in members]
    out_schema = T.StructType(
        [
            T.StructField("doc_id", utype),
            T.StructField("cluster_id", utype),
        ]
    )
    # r14 (guide §6 "Arrow for driver transfers"): createDataFrame over
    # a python list pickles row-by-row into defaultParallelism slices
    # (measured 1.2 s of a 32-task stage for ~5k labels inside
    # corpus_dedup_report).  The Arrow column types come from
    # out_schema, not from inference, so an empty label set takes the
    # same path with the same types, with or without the session's
    # arrow conf.
    labels = pa.table(
        {"doc_id": [r[0] for r in rows], "cluster_id": [r[1] for r in rows]},
        schema=to_arrow_schema(out_schema),
    )
    return spark.createDataFrame(labels, out_schema)


def dup_clusters(pairs: DataFrame, a_col: str = "a_id", b_col: str = "b_id",
                 max_iter: int = 15,
                 driver_threshold: int = DRIVER_CC_MAX_EDGES) -> DataFrame:
    """Connected components over near-duplicate pairs: (doc_id,
    cluster_id = min id reachable) — the standard "keep one per
    cluster" step after MinHash/SimHash candidate generation.

    Min-label propagation **with pointer jumping** (path doubling, as
    in Rastogi et al. 2013 "Finding Connected Components in Map-Reduce
    in Logarithmic Rounds"): each round every node adopts the smallest
    label among (self, 1-hop neighbours), then replaces its label with
    its *label's* label.  The jump halves remaining chain length, so
    convergence is O(log diameter) rounds instead of the O(diameter)
    of plain propagation — the difference between 3-4 Spark jobs and
    hundreds on chain-shaped near-dup graphs.  Each round is three
    shuffle joins over the *edge/label* sets only (orders of magnitude
    smaller than the corpus), materialized via ``localCheckpoint`` —
    the jump self-join makes the logical plan reference the previous
    round twice, so without lineage truncation the plan tree doubles
    every round and Catalyst re-analysis goes exponential (a cache
    alone does NOT truncate the logical plan).  Labels are
    monotonically non-increasing, so `min(new) < old` is the complete
    change test.

    SIZE-ADAPTIVE (round-10): the raw ``(u, v)`` pairs, NULL
    endpoints dropped, are checkpointed once.  When at most
    ``driver_threshold`` of them come back from a bounded Arrow fetch
    (a constant — bounded memory, the same standard as a broadcast
    threshold), the components are computed by an exact driver-side
    union-find over the fetched columns instead: the iterative path's
    per-round scheduling floor (~5 jobs × ~0.3 s on a busy host) dwarfs
    the actual work on small graphs (measured 4.7 s → ~0.2 s on a
    240-edge sf0.1 graph).  Union-find needs neither symmetrized nor
    distinct edges, so only the distributed path builds them, from the
    same checkpoint.  Both paths produce identical labels
    (property-pinned); pass ``driver_threshold=0`` to force the
    distributed path.
    """
    # NULL endpoints: the distributed path would drop them implicitly
    # (every step is an inner join); dropping them here gives both
    # paths the identical edge set
    uv = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .localCheckpoint()
    )
    # strict ">0" guard: driver_threshold=0 must force the distributed
    # path even on an EMPTY pair set (the escape hatch the property
    # tests rely on), and skips the fetch and the count there
    if driver_threshold > 0:
        # ONE bounded Arrow fetch: a row-based py4j collect of the
        # worst case (DRIVER_CC_MAX_EDGES pair rows) costs enough to
        # erode the win; one row past the gate says "too many"
        fetched = uv.limit(driver_threshold + 1).toArrow()
        if fetched.num_rows <= driver_threshold:
            return _union_find_labels(pairs.sparkSession, fetched,
                                      uv.schema["u"].dataType)
    # symmetrize in ONE pass over the checkpoint
    edges = (
        uv.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count() if driver_threshold > 0 else None
    # r13: the whole iterative path runs under fixpoint_scope — the
    # per-round relations are edge/label-sized, and the profile showed
    # the query was job-floor-bound (66 jobs, no stage over 1 s) from
    # AQE materializing every tiny exchange as its own re-planned job.
    # Inside the scope each eager checkpoint is ONE job; the scope is
    # inert (AQE untouched) above FIXPOINT_SCOPE_MAX_ROWS edges.
    from .fixpoint import fixpoint_scope

    with fixpoint_scope(pairs.sparkSession, n_edges):
        labels = (
            edges.groupBy("u")
            .agg(F.min("v").alias("minv"))
            .select(F.col("u").alias("node"), F.least("minv", "u").alias("label"))
            .localCheckpoint()
        )
        for _ in range(max_iter):
            # 1-hop: smallest label among my neighbours
            neigh = (
                edges.join(labels, edges["v"] == labels["node"], "inner")
                .groupBy("u")
                .agg(F.min("label").alias("nlabel"))
            )
            hop = labels.join(neigh, labels["node"] == neigh["u"], "left").select(
                "node",
                F.col("label").alias("old"),
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
            )
            # pointer jump: adopt my label's label (labels are node ids, so
            # every label resolves; left+coalesce guards the root case)
            parent = hop.select(F.col("node").alias("pnode"), F.col("label").alias("plabel"))
            # localCheckpoint materializes the round AND truncates lineage,
            # keeping every round's analyzed plan the same (small) size.
            # Measured (round 4, sf0.1 best-of-3): eager 7.7-8.3 s for the
            # whole query vs 8.5-9.3 s with eager=False — the lazy form
            # still pays a checkpoint-completion job after the limit(1)
            # count (LocalRDDCheckpointData computes missing partitions
            # before truncating), so it saves nothing and loses AQE's
            # sizing on the count.  Keep eager.
            new_labels = (
                hop.join(parent, hop["label"] == parent["pnode"], "left")
                .select("node", "old", F.coalesce("plabel", F.col("label")).alias("label"))
                .localCheckpoint()
            )
            changed = new_labels.filter(F.col("label") < F.col("old")).limit(1).count()
            labels = new_labels.select("node", "label")
            if changed == 0:
                break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def stratified_sample(df: DataFrame, strata_col: str, rates: dict[str, int],
                      default_rate: int = 0, id_col: str = "doc_id",
                      salt: str = "strat") -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff
    ``H(salt:id) % 100 < rate(stratum)`` (rate in percent).

    The keep decision depends only on (id, stratum rate) — like
    ``hash_split``, re-running on a grown corpus never flips an old
    row, and no RNG state needs coordinating across executors.  The
    rate lookup is a CASE expression, not a join: zero shuffle, pure
    scan-side filter at any scale.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{salt}:"),
                                          F.col(id_col).cast("string"))), 1, 8), 16, 10)
        .cast("long") % 100
    )
    rate = F.lit(default_rate)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(rate)
    return df.filter(bucket < rate)


def interleave_sources(df: DataFrame, source_col: str, weights: dict[str, int],
                       id_col: str = "doc_id") -> DataFrame:
    """Weighted round-robin interleaving of corpus sources into one
    global training order (the "data mixing" step of a pretraining
    pipeline): a source with weight w contributes ~w docs per w-sized
    stride of the output.

    Each row's virtual position is ``(rank_within_source − 1) · SCALE
    div weight`` in *integer floor division* (both Spark ``div`` and
    the DuckDB oracle's ``//`` truncate identically, so the result is
    exact and engine-independent).  Weights that DIVIDE SCALE (every
    ratio <= 16, and 240 divisors beyond) take the closed-form rank
    below; other positive integer weights <= SCALE fall back to the
    exact range-partitioned global ordering (no overflow-prone
    product, one extra sampling pass).  Divisibility makes every
    source's positions
    exact multiples of an integer ``step = SCALE / weight``, which (a)
    keeps per-source positions strictly increasing (the closed-form
    rank's premise — weights above SCALE would collapse consecutive
    ranks onto one position) and (b) lets the cross-source
    strictly-below count be ``ceil(vpos / step)`` with NO
    ``vpos × weight`` product — that product's intermediate
    (~n_rows·SCALE·weight) silently wrapped int64 for weight-heavy
    configs past ~2e7 rows (round-7 advisor); intermediates here stay
    ≤ vpos + SCALE, int64-safe to ~1.2e13 rows per source.
    SCALE = 720720 is divisible by every weight ≤ 16 (and by 2^4·3^2·
    5·7·11·13's 240 divisors up to SCALE itself), far beyond any sane
    mixing ratio.

    The per-source rank is a source-partitioned window (parallel
    across sources).  The global ``mix_rank`` — row_number over
    (vpos, source, id) — is computed in CLOSED FORM, not with a global
    window or a two-pass range sort (round-6 verdict #6: the two-pass
    machinery cost 3 jobs + a checkpoint of fixed overhead per run):
    source positions ``p_k = (k−1)·SCALE div w`` are strictly
    increasing per source, so the number of rows of source s′ ordered
    before a given (vpos, source) is ``min(n_{s′},
    (vpos·w′−1) div SCALE + 1)`` plus an exactly-expressible tie term
    — a pure JVM expression over per-source row counts.  Those counts
    are ONE bounded aggregate (source labels are a mixing config, not
    user-scale data; collect is |sources| rows at any corpus size).
    The only exchanges in the whole plan are the per-source window's
    hash partition and the counts agg.  Sources must be non-null
    (mixing labels)."""
    scale = 720720
    weight = F.lit(1)
    divisor_form = True
    for k, v in sorted(weights.items()):
        if not (isinstance(v, int) and 0 < v <= scale):
            raise ValueError(
                f"weights must be positive integers <= {scale}, got {k}={v!r} "
                "(weights above SCALE would collapse consecutive per-source "
                "ranks onto one virtual position)"
            )
        divisor_form = divisor_form and scale % v == 0
        weight = F.when(F.col(source_col) == k, F.lit(v)).otherwise(weight)
    rn = F.row_number().over(Window.partitionBy(source_col).orderBy(id_col))
    out = (
        df.withColumn("_w", weight)
        .withColumn("_rn", rn)
        .withColumn("vpos", F.expr(f"(CAST(_rn AS BIGINT) - 1) * {scale} div _w"))
    )
    if not divisor_form:
        # NON-divisor weights (e.g. 17, 100 — round-8 review restored
        # them): positions are floor-multiples, not exact integer
        # steps, so the ceil(vpos/step) strictly-below count doesn't
        # hold and the general closed form needs the vpos*weight
        # product the round-7 advisor flagged for int64 wrap.  Take
        # the exact, product-free path instead: the global
        # (vpos, source, id) order via the range-partitioned two-pass
        # ordering (no Exchange SinglePartition; identical values to
        # a global window, pinned in test_properties).  Divisor
        # weights — every sane mixing ratio — keep the cheaper
        # closed form below.
        from .ordering import range_partitioned_row_number

        return range_partitioned_row_number(
            out,
            [F.col("vpos"), F.col(source_col), F.col(id_col)],
            out_col="mix_rank",
        ).drop("_rn", "_w")
    # per-source row counts as a broadcast 1-row map — part of the SAME
    # action (no driver collect, no extra job): at any corpus size this
    # is a scan + bounded agg feeding a |sources|-entry broadcast
    cnt_map = df.groupBy(F.col(source_col).alias("s")).agg(
        F.count("*").alias("n")
    ).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("s"), F.col("n")))
        ).alias("cmap")
    )
    # position step of the map entry's source, as a literal CASE
    # (config data; weights divide SCALE so each step is exact)
    sexpr = "CASE e.key " + "".join(
        f"WHEN '{k.replace(chr(39), chr(39) * 2)}' THEN "
        f"CAST({scale // v} AS BIGINT) "
        for k, v in sorted(weights.items())
    ) + f"ELSE CAST({scale} AS BIGINT) END"
    # how many of source e's strictly-increasing positions (exact
    # multiples of its step) fall below my vpos: ceil(vpos / step),
    # uncapped; the tie row (position == vpos, i.e. step | vpos) sorts
    # before me iff its source name does.  No vpos*weight product —
    # intermediates stay <= vpos + SCALE (round-7 advisor overflow fix)
    lt = (
        f"(CASE WHEN vpos >= 1 THEN (vpos + ({sexpr}) - 1) div ({sexpr}) "
        f"ELSE CAST(0 AS BIGINT) END)"
    )
    mix = F.expr(
        f"CAST(_rn AS BIGINT) + aggregate(map_entries(cmap), "
        f"CAST(0 AS BIGINT), (acc, e) -> acc + "
        f"(CASE WHEN e.key = {source_col} THEN CAST(0 AS BIGINT) ELSE "
        f"LEAST(e.value, {lt}) + "
        f"(CASE WHEN e.key < {source_col} AND {lt} + 1 <= e.value "
        f"AND vpos % ({sexpr}) = 0 "
        f"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) END))"
    )
    return (
        out.crossJoin(F.broadcast(cnt_map))
        .withColumn("mix_rank", mix)
        .drop("_rn", "_w", "cmap")
    )


def keep_best_per_pair(docs: DataFrame, pairs: DataFrame,
                       quality_col: str, id_col: str = "doc_id",
                       a_col: str = "a_id", b_col: str = "b_id",
                       broadcast_dominated: bool = True) -> DataFrame:
    """Near-duplicate resolution: drop every document that is
    *dominated* by a pair partner — partner has higher quality, or
    equal quality and smaller id.  One-hop domination (not full
    connected components — see ``dup_clusters`` for that): exactly the
    rows a reviewer would call "a worse copy of something we keep".

    Shape: symmetrize pairs → join quality onto both endpoints →
    LEFT ANTI from the corpus.  With ``broadcast_dominated`` (default)
    the corpus is never shuffled — right for the usual case where
    near-dup pairs are a sliver of the corpus.  On a dup-HEAVY corpus
    the dominated set is itself corpus-scale: pass False to use a
    shuffle anti-join instead (AQE still broadcasts when the set turns
    out small)."""
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a_col).alias("u"), F.col(b_col).alias("v")),
                F.struct(F.col(b_col).alias("u"), F.col(a_col).alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    q = docs.select(F.col(id_col).alias("qid"), F.col(quality_col).alias("q"))
    uq = q.select(F.col("qid").alias("u"), F.col("q").alias("uq"))
    vq = q.select(F.col("qid").alias("v"), F.col("q").alias("vq"))
    dominated = (
        edges.join(uq, "u").join(vq, "v")
        .filter(
            (F.col("vq") > F.col("uq"))
            | ((F.col("vq") == F.col("uq")) & (F.col("v") < F.col("u")))
        )
        .select(F.col("u").alias("dom_id"))
        .distinct()
    )
    if broadcast_dominated:
        dominated = F.broadcast(dominated)
    return docs.join(dominated, docs[id_col] == dominated["dom_id"], "left_anti")


def blocklist_filter(df: DataFrame, terms: list[str], text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """C4-style blocklist gate: flag documents containing any
    blocklisted token (whole-token, case-insensitive — Raffel et al.
    2020 §2.2's "bad words" step).  ``array_intersect`` against a
    literal array: pure codegen, zero shuffle, the blocklist rides the
    plan (for multi-thousand-term production lists, swap to a broadcast
    join against a terms table — same relation).  Adds
    ``n_blocked_terms`` (distinct blocklisted tokens present) and
    ``blocked``; callers drop or route flagged docs."""
    if not terms:  # empty blocklist: nothing blocks (F.array() of zero
        # columns is not a valid expression, so short-circuit)
        return df.withColumn(
            "n_blocked_terms", F.lit(0).cast("long")
        ).withColumn("blocked", F.lit(False))
    toks = tokens(F.lower(F.col(text_col)))
    lits = F.array(*[F.lit(t.lower()) for t in terms])
    hits = F.size(F.array_intersect(F.array_distinct(toks), lits))
    return df.withColumn("n_blocked_terms", hits.cast("long")).withColumn(
        "blocked", hits > 0
    )


def pack_sequences(df: DataFrame, seq_len: int, tokens_col: str = "n_tokens",
                   id_col: str = "doc_id") -> DataFrame:
    """Contiguous-fill sequence packing: concatenate documents in id
    order and chop the token stream into fixed ``seq_len`` training
    sequences (the standard "concat-and-chunk" pretraining layout —
    documents may straddle a boundary; the tokenizer's EOS handles the
    joins).

    Emits per document: ``pack_id`` (the sequence its first token lands
    in), ``pack_offset`` (position of that token within the sequence),
    and ``n_spanned`` (how many sequences the document touches) — enough
    for a writer to route each document's token slices to shards.

    The global token offset is a running sum over the id ordering,
    computed with the two-pass range-partitioned formulation
    (operators.ordering): no single-reducer window, so the packing plan
    is the same shape at 5 k docs and at 100 TB."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    from .ordering import range_partitioned_running_sum

    out = range_partitioned_running_sum(
        df,
        [F.col(id_col)],
        tokens_col,
        out_col="_run",
        # the token-count input is by construction a per-document text
        # expression — evaluate it once, not once per ordering job
        # (see token_budget_sample's rationale)
        materialize_input=True,
    )
    # integer `div`, not float-division-and-cast: token offsets reach
    # ~10^14 at 100 TB where double rounding could misplace a boundary
    out = out.withColumn("_start", F.col("_run") - F.col(tokens_col)).withColumn(
        "_end", F.col("_run") - F.lit(1)  # inclusive index of the last token
    )
    return (
        out.withColumn("pack_id", F.expr(f"_start div {int(seq_len)}"))
        .withColumn("pack_offset", F.pmod("_start", F.lit(int(seq_len))).cast("long"))
        .withColumn(
            "n_spanned",
            F.when(F.col(tokens_col) <= 0, F.lit(0).cast("long")).otherwise(
                F.expr(f"(_end div {int(seq_len)}) - (_start div {int(seq_len)}) + 1")
            ),
        )
        .drop("_run", "_start", "_end")
    )


def source_quota(df: DataFrame, per_source: int, quality_col: str,
                 source_col: str = "source", id_col: str = "doc_id") -> DataFrame:
    """Per-source quota cap: keep at most ``per_source`` documents per
    source, best-quality first (id tie-break) — the "no source may
    dominate the mix" guard of a data-mixing pipeline.

    One partitioned window (parallel across sources), filter pushed
    into the same stage; adds ``source_rank`` for downstream mixing."""
    w = Window.partitionBy(source_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return (
        df.withColumn("source_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("source_rank") <= per_source)
    )


def corpus_profile(df: DataFrame, text_col: str = "text",
                   group_col: str = "source", lang_col: str = "lang") -> DataFrame:
    """Per-group corpus profile: doc counts, byte/token volume, length
    moments, and distinct-language counts — the dataset card a curation
    run prints before and after each stage.

    ONE aggregation pass (every metric is an agg expression over the
    same groupBy — no per-metric jobs), shuffling only the group key."""
    t = F.col(text_col)
    toks = tokens(t)
    return (
        df.groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length(t)).cast("long").alias("total_chars"),
            F.sum(F.size(toks)).cast("long").alias("total_tokens"),
            F.min(F.length(t)).cast("long").alias("min_chars"),
            F.max(F.length(t)).cast("long").alias("max_chars"),
            F.round(F.avg(F.length(t)), 4).alias("avg_chars"),
            F.count_distinct(F.col(lang_col)).alias("n_langs"),
            F.sum(F.when(F.length(t) == 0, 1).otherwise(0)).cast("long").alias("n_empty"),
        )
    )


def doc_ngrams(df: DataFrame, n: int = 8, text_col: str = "text",
               id_col: str = "doc_id",
               keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distinct hashed word n-grams per document → (doc_id, gram).

    Gram generation is a higher-order ``transform`` over a
    ``sequence`` of start offsets + ``slice``/``concat_ws`` — pure
    codegen expressions, no UDF, row-local (zero shuffle until the
    caller aggregates/joins).  Documents shorter than n words emit
    nothing.

    Each gram string is replaced with a 60-bit digest
    (``int(md5(gram)[:15], 16)``) BEFORE the distinct — the
    dedup shuffle and any downstream join then ship 8-byte longs
    instead of ~n-word strings (the same trick that made the n-gram
    Jaccard join 3.7× faster).  The digest is engine-portable (DuckDB:
    ``('0x' || substr(md5(g),1,15))::BIGINT``), so an oracle computing
    the same digest sees identical results, collisions included; at
    10⁶ grams the 60-bit collision odds are ~4·10⁻⁷."""
    from .text import ngram_strings

    toks = tokens(F.lower(F.col(text_col)))
    # let-bound gram generation (operators.text.ngram_strings): the
    # token split must run once per row, not once per gram
    grams = ngram_strings(toks, n)
    # spread the raw rows before tokenize+explode (see
    # dedup.word_shingles) — few input splits must not serialize the
    # gram generation/hashing into few tasks.
    par = df.sparkSession.sparkContext.defaultParallelism
    keep = list(keep_cols)  # per-doc-constant passthroughs (e.g. split):
    # functionally dependent on id_col, so they don't change the
    # distinct's cardinality — just ride along instead of re-joining
    out = df.repartition(par).filter(F.size(toks) >= n).select(
        F.col(id_col), *keep, F.explode(grams).alias("gram")
    )
    return out.select(
        id_col,
        *keep,
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long").alias("gram"),
    ).distinct()


def duplicate_span_stats(docs: DataFrame, n: int = 8,
                         flag_num: int = 3, flag_den: int = 10,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Duplicate n-gram span fraction per document (Lee et al. 2021
    'Deduplicating Training Data' / RefinedWeb removal filter):
    (doc_id, n_grams, n_dup_grams, dup_ppm, flag_dup) where a gram is
    'duplicated' iff it occurs in ≥ 2 documents and ``flag_dup`` fires
    at ``n_dup/n_grams ≥ flag_num/flag_den`` (default 30%).

    One hashed-gram pass (doc_ngrams — 60-bit longs, distinct per
    doc), checkpointed because it feeds both the corpus document
    frequency and the per-doc rollup; two long-keyed shuffles total.
    Decision math is exact integer ppm / cross-multiplication — no
    double near a threshold on any engine."""
    grams = doc_ngrams(docs, n=n, text_col=text_col, id_col=id_col)
    grams = grams.localCheckpoint(eager=False)
    dfreq = grams.groupBy("gram").agg(F.count("*").alias("df_"))
    return (
        grams.join(dfreq, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("df_") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "n_dup_grams",
            F.expr("CAST(n_dup_grams * 1000000 DIV n_grams AS BIGINT)").alias(
                "dup_ppm"
            ),
            (
                F.col("n_dup_grams") * flag_den
                >= F.col("n_grams") * flag_num
            ).alias("flag_dup"),
        )
    )


def _positional_dup_grams(docs: DataFrame, n: int, text_col: str,
                          id_col: str):
    """Shared candidate pass for the span-removal family: lowercase
    tokens, positional n-gram 60-bit hashes, and the corpus-duplicated
    gram set (df ≥ 2 across documents).  Both
    :func:`duplicate_span_removal` and :func:`maximal_dup_spans` build
    on this ONE definition so the gram hashing / tokenization can
    never desynchronize between them (they share oracle SQL too).
    Returns ``(base, toks, posgrams, dup)``: the repartitioned
    (id, text) relation, the token-array Column, the (id, start,
    gram) relation (1-based starts), and the duplicated-gram keys."""
    from .text import ngram_strings

    toks = tokens(F.lower(F.col(text_col)))
    # let-bound (see ngram_strings): one split per row, not per gram
    gram_str = ngram_strings(toks, n)
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.repartition(par).select(id_col, text_col)
    posgrams = base.filter(F.size(toks) >= n).select(
        F.col(id_col),
        F.posexplode(gram_str).alias("pos0", "gram_s"),
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("start"),
        F.conv(F.substring(F.md5("gram_s"), 1, 15), 16, 10)
        .cast("long")
        .alias("gram"),
    )
    dup = (
        posgrams.select(id_col, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("df_"))
        .filter(F.col("df_") >= 2)
        .select("gram")
    )
    return base, toks, posgrams, dup


def duplicate_span_removal(docs: DataFrame, n: int = 8,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Remove corpus-duplicated n-gram SPANS from every document (the
    removal stage after duplicate_span_stats measures): a token is
    dropped iff it sits inside any n-gram that occurs in ≥ 2 documents
    (span-coverage removal — deterministic and order-free; unlike
    Lee et al.'s keep-first-occurrence, BOTH copies go, which is the
    variant that needs no global document ordering at 100 TB).
    Returns (doc_id, n_tokens, n_kept, clean_md5) where clean_md5
    fingerprints the space-joined surviving tokens — the reconstructed
    text is hash-checked, not just counted.

    Plan: the duplicated-gram set comes from the same hashed-gram
    relation as the stats op (distinct per doc → df ≥ 2); positional
    grams join it on the 8-byte key; covered START positions fold to
    one small array per doc (≤ n_grams longs), and the token filter is
    then a row-local indexed-lambda scan — document text never joins
    against anything, only (doc_id, start) pairs shuffle."""
    base, toks, posgrams, dup = _positional_dup_grams(
        docs, n, text_col, id_col
    )
    starts = (
        posgrams.join(dup, "gram")
        .groupBy(id_col)
        .agg(F.collect_set("start").alias("starts"))
    )
    joined = base.join(starts, id_col, "left").withColumn(
        "starts", F.coalesce("starts", F.array().cast("array<int>"))
    )
    kept = F.filter(
        toks,
        lambda t, j: ~F.exists(
            F.col("starts"),
            lambda s: (j + 1 >= s) & (j + 1 <= s + (n - 1)),
        ),
    )
    return joined.select(
        id_col,
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.concat_ws(" ", kept)).alias("clean_md5"),
    )


def maximal_dup_spans(docs: DataFrame, n: int = 8, min_tokens: int = 50,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """MAXIMAL duplicated substrings per document (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": remove
    maximal duplicated substrings ≥ 50 tokens, arXiv:2107.06499 §4.1),
    as a distributed approximation: corpus-duplicated n-grams (df ≥ 2
    across documents) are chained into maximal spans by a
    gaps-and-islands merge over their [start, start+n-1] coverage
    intervals — two overlapping or ABUTTING intervals always fuse, so
    no two returned spans can be extended or merged further — then
    spans shorter than ``min_tokens`` are dropped (the paper's 50-token
    floor).  Returns (doc_id, span_start, span_end, span_len), token
    positions 1-based inclusive.

    Approximation contract vs the paper's suffix-array construction: a
    duplicated substring is found iff it is ≥ n tokens long (every
    length-≥n dup contains a dup n-gram, and chained n-gram coverage
    reproduces its full extent); dups shorter than n are invisible, and
    two distinct dup substrings closer than one token merge.  With
    n=8 ≪ min_tokens=50 both effects sit far below the removal floor.

    Scale shape: only (doc_id, start) longs shuffle (hashed grams, as
    duplicate_span_removal); the islands merge is a PER-DOCUMENT
    window — parallel across docs, O(spans·log) within one — and the
    output is bounded by n_tokens/min_tokens spans per doc."""
    _, _, posgrams, dup = _positional_dup_grams(
        docs, n, text_col, id_col
    )
    iv = (
        posgrams.join(dup, "gram")
        .select(id_col, "start", (F.col("start") + (n - 1)).alias("end"))
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy("start")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "new_island",
        (prev_max_end.isNull() | (F.col("start") > prev_max_end + 1))
        .cast("int"),
    )
    islands = marked.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .withColumn(
            "span_len", F.col("span_end") - F.col("span_start") + 1
        )
        .filter(F.col("span_len") >= min_tokens)
        .select(
            id_col,
            F.col("span_start").cast("long"),
            F.col("span_end").cast("long"),
            F.col("span_len").cast("long"),
        )
    )


def duplicate_span_removal_maximal(docs: DataFrame, n: int = 8,
                                   min_tokens: int = 50,
                                   text_col: str = "text",
                                   id_col: str = "doc_id") -> DataFrame:
    """Lee et al. 2022 exact-substring removal over
    :func:`maximal_dup_spans`: every token inside a maximal duplicated
    span ≥ ``min_tokens`` is dropped and the surviving text is
    fingerprinted — (doc_id, n_tokens, n_spans, n_removed, clean_md5)
    with byte-exact reconstruction parity (``clean_md5`` hashes the
    space-joined kept tokens).  Spans below the floor stay in the
    document, exactly the paper's semantics — unlike
    :func:`duplicate_span_removal`, which removes EVERY covered token
    regardless of extent.

    The span list re-enters as one bounded array per doc (≤
    n_tokens/min_tokens entries), so the token filter is a row-local
    indexed-lambda scan — document text never joins against anything
    SF-scaled."""
    spans = maximal_dup_spans(docs, n=n, min_tokens=min_tokens,
                              text_col=text_col, id_col=id_col)
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    toks = tokens(F.lower(F.col(text_col)))
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.repartition(par).select(id_col, text_col)
    joined = base.join(sp, id_col, "left").withColumn(
        "spans",
        F.coalesce(
            "spans",
            F.array().cast("array<struct<span_start:long,span_end:long>>"),
        ),
    )
    kept = F.filter(
        toks,
        lambda t, j: ~F.exists(
            F.col("spans"),
            lambda s: (j + 1 >= s["span_start"]) & (j + 1 <= s["span_end"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size("spans").cast("long").alias("n_spans"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.concat_ws(" ", kept)).alias("clean_md5"),
    )


def ngram_contamination_split(docs_with_split: DataFrame, n: int = 8,
                              split_col: str = "split",
                              train_value: str = "train",
                              test_value: str = "test",
                              text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Benchmark-contamination check over a corpus that carries its
    train/test ``split_col``: for every train document, how many of its
    distinct n-grams appear in ANY test document (Brown et al. 2020
    GPT-3 app. C methodology).  Returns only contaminated train docs:
    (doc_id, n_shared_grams, n_test_docs).

    Grams are pre-hashed to 60-bit digests (see ``doc_ngrams``), so the
    cross-split join and both distinct counts run over longs.  It grams
    the corpus ONCE and filters the materialized gram relation per
    side, instead of running the tokenize→explode→hash→distinct
    pipeline (and its shuffle) once per split.  At 100 TB that halves the dominant cost — the corpus-text pass —
    and is why a split column beats two physical corpora for
    contamination scans.  The split rides through the gram distinct as
    a per-doc-constant passthrough (NOT a re-join — a per-doc side map
    is itself SF-scaled, so joining it back would be a second shuffle
    and broadcasting it an OOM at corpus scale).  The gram relation is
    localCheckpoint'd: both the train and test branches read the same
    materialized longs (lineage truncated; same fixed-executor caveat
    as ordering.py).  The two distinct counts are ``size(collect_set)``
    per document, not ``count_distinct``: two distinct aggregates would
    plan an ``Expand`` whose projection order follows expression
    hashes, which carry expression ids, so the plan would depend on
    what was built before it in the same process."""
    grams = doc_ngrams(
        docs_with_split.select(id_col, text_col, split_col),
        n=n, text_col=text_col, id_col=id_col, keep_cols=(split_col,),
    ).localCheckpoint(eager=False)
    tr = grams.filter(F.col(split_col) == train_value).select(id_col, "gram")
    te = grams.filter(F.col(split_col) == test_value).select(
        F.col(id_col).alias("test_id"), "gram"
    )
    return (
        tr.join(te, "gram")
        .groupBy(F.col(id_col))
        .agg(
            F.size(F.collect_set("gram")).cast("long").alias("n_shared_grams"),
            F.size(F.collect_set("test_id")).cast("long").alias("n_test_docs"),
        )
    )


def _km_positions(gram: F.Column, m_bits: int, k: int) -> F.Column:
    """Kirsch-Mitzenmacher double hashing (k bit positions from ONE
    base hash, "Less Hashing, Same Performance", ESA 2006): for the
    60-bit positive gram digest g, h1 = g mod m and h2 = an ODD value
    derived from the bits ABOVE h1 (odd ⇒ invertible mod a power-of-two
    m ⇒ the k positions are pairwise distinct), position_i =
    (h1 + i·h2) mod m.  All arithmetic is shifts/mods on positive
    longs staying below k·m — exact on any engine (NO double division:
    g/m as a double would round 60-bit digests at the 53-bit mantissa
    and desynchronize the two engines' filters), so a SQL oracle
    recomputes the EXACT same filter, false positives included."""
    if m_bits & (m_bits - 1):
        raise ValueError(f"m_bits must be a power of two, got {m_bits}")
    log2m = m_bits.bit_length() - 1
    h1 = F.pmod(gram, F.lit(m_bits))
    h2 = F.pmod(F.shiftright(gram, log2m), F.lit(m_bits // 2)) * 2 + 1
    return F.array(*[F.pmod(h1 + i * h2, F.lit(m_bits)) for i in range(k)])


def bloom_decontaminate(docs_with_split: DataFrame, n: int = 8,
                        m_bits: int = 1 << 18, k: int = 5,
                        split_col: str = "split",
                        train_value: str = "train",
                        test_value: str = "test",
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination via a BLOOM FILTER of the test
    split's n-grams — the broadcast-a-filter-not-a-join shape that
    matters at 100 TB: the train side (the huge side) is probed with a
    structure bounded by ``m_bits`` REGARDLESS of corpus size, so the
    only SF-scaled shuffle is the per-doc rollup the scan needs
    anyway; the test corpus itself is never joined against train text.

    Per train document: (doc_id, n_grams, exact_hit, bloom_hit,
    no_false_negative) where ``exact_hit`` is the true shares-a-gram
    flag (the verification twin — production skips this join and
    trusts the filter), ``bloom_hit`` is the filter's verdict, and
    ``no_false_negative = bloom_hit OR NOT exact_hit`` — TRUE for
    every document BY CONSTRUCTION (Bloom filters have one-sided
    error), asserted per-row rather than assumed.

    Filter mechanics: each distinct test gram (60-bit md5 digest,
    :func:`doc_ngrams`) sets k Kirsch-Mitzenmacher positions in an
    m-bit address space; the SET-BIT TABLE (≤ m_bits rows — bounded by
    a constant, not by data) is broadcast, and a train gram hits iff
    all k of its positions are set.  The whole construction is
    deterministic integer arithmetic on both engines, so the DuckDB
    oracle reproduces the filter EXACTLY — hash parity covers the
    false-positive behaviour too, not just an invariant flag.  Sizing:
    the PER-GRAM fp rate compounds per document (a doc is flagged if
    ANY of its grams hits), so size m for per-gram fp ≪ 1 /
    grams-per-doc — the defaults give ~0.4% per gram at sf0.1, which
    deliberately LEAVES visible doc-level false positives (bloom_hit ≫
    exact_hit) so the parity check exercises the fp path; production
    decontamination would use 16+ bits per test gram and shard the
    broadcast if m grows past executor memory."""
    grams = doc_ngrams(
        docs_with_split.select(id_col, text_col, split_col),
        n=n, text_col=text_col, id_col=id_col, keep_cols=(split_col,),
    ).localCheckpoint(eager=False)
    tr = grams.filter(F.col(split_col) == train_value).select(id_col, "gram")
    te = grams.filter(F.col(split_col) == test_value).select("gram").distinct()

    set_bits = te.select(
        F.explode(_km_positions(F.col("gram"), m_bits, k)).alias("pos")
    ).distinct()

    # probe: explode each train gram's k positions against the
    # broadcast set-bit table; a gram hits iff all k positions match
    # (KM positions are pairwise distinct, so matched-count == k).
    probe = tr.select(
        id_col, "gram",
        F.explode(_km_positions(F.col("gram"), m_bits, k)).alias("pos"),
    )
    gram_hits = (
        probe.join(F.broadcast(set_bits), "pos")
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == k)
        .select(id_col)
        .distinct()
        .withColumn("bloom_hit", F.lit(True))
    )
    exact_hits = (
        tr.join(te, "gram")
        .select(id_col)
        .distinct()
        .withColumn("exact_hit", F.lit(True))
    )
    n_grams = tr.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))

    base = docs_with_split.filter(
        F.col(split_col) == train_value
    ).select(id_col)
    return (
        base.join(n_grams, id_col, "left")
        .join(exact_hits, id_col, "left")
        .join(gram_hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("exact_hit", F.lit(False)).alias("exact_hit"),
            F.coalesce("bloom_hit", F.lit(False)).alias("bloom_hit"),
            (
                F.coalesce("bloom_hit", F.lit(False))
                | ~F.coalesce("exact_hit", F.lit(False))
            ).alias("no_false_negative"),
        )
    )


def _hashed_bigram_buckets(text_col: str, n_buckets: int) -> F.Column:
    """Array of hashed-bigram feature buckets for one document.

    Bigrams of the LOWERCASED whitespace tokens (the catalog-wide
    ``_TOKS`` oracle convention every other hashed-gram operator here
    follows — round-11 ADVICE: without the lower() a mixed-case corpus
    silently diverges DSIR scores from the DuckDB oracle), each hashed
    into ``n_buckets`` buckets with the cross-engine md5 slice
    (operators.text), so the oracle reproduces the feature map
    bit-exactly.  Documents with fewer than two tokens get an empty
    array (no features).

    The gram strings come from :func:`~.text.ngram_strings`, which
    owns the Catalyst CollapseProject let-binding workaround (the
    token array must be bound through ``transform(array(t), arr → …)``
    or the tokenizing split re-runs once per GRAM instead of once per
    row — measured 5-8× on the bench corpus).
    """
    from .text import cross_engine_hash, ngram_strings

    return F.transform(
        ngram_strings(tokens(F.lower(F.col(text_col))), 2),
        lambda g: cross_engine_hash(g, seed="dsir") % n_buckets,
    )


def _dsir_scores(docs: DataFrame, target: F.Column, n_buckets: int,
                 text_col: str, id_col: str,
                 carry_cols: tuple[str, ...],
                 collapse: bool) -> DataFrame:
    """Shared DSIR scoring core — (id, carry…, score) for every
    document with ≥ 2 tokens.  :func:`dsir_select` keeps the
    deterministic top-k; :func:`dsir_resample` perturbs with Gumbel
    noise first.

    Algorithm (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling", NeurIPS): score every document by the
    log-likelihood ratio of its hashed-bigram features under the
    TARGET distribution (rows where ``target`` is true — the curated
    set you want more of) vs the RAW corpus distribution.

    Published recipe for steering a web-scale crawl toward a target
    domain without training a classifier; here the estimator is the
    hashed unigram-of-bigrams model from the paper (add-one smoothing
    over ``n_buckets`` buckets).

    Scale shape (100 TB):

    - ONE corpus pass builds both feature distributions: explode the
      hashed bigrams and aggregate per bucket with a conditional sum —
      the shuffle carries at most ``n_buckets`` keys and map-side
      partials collapse everything else;
    - the per-bucket log-ratio table is ≤ ``n_buckets`` rows and is
      BROADCAST to the scoring pass, so scoring is scan + broadcast
      hash join; a document's exploded features stay in their input
      partition, so the per-document sum partial-aggregates before the
      only document-sized shuffle (one row per doc);
    - the two grand totals come from an unpartitioned window over the
      bounded bucket table (a SinglePartition pass over bytes), keeping
      model-build a single subtree — sharing the bucket table between a
      scalar-fold subtree and the broadcast via a lazy checkpoint races
      the two consumers into duplicate corpus passes;
    - top-k is ``orderBy().limit(k)`` → TakeOrderedAndProject, never a
      single-reducer global window;
    - scoring is a SECOND streaming pass over the corpus (the DSIR
      model-build + score shape): the exploded feature stream is never
      materialized — two scans beat writing a corpus-sized feature
      table just to read it back once.

    Scores are rounded to 6 dp BEFORE ranking and ties break on
    ``id_col``, so the k-boundary is deterministic cross-engine.
    Documents with < 2 tokens have no features and are not scored.

    One body for both states of the collapse dial: the model counts,
    the log-ratio table and the scoring are written once, and
    ``collapse`` picks only the keying and the join-back.
    ``collapse=True`` (round-11 verdict #6) is the collapse-before-
    compute plan for duplication-heavy corpora: the gram stream — the
    tokenize + per-bigram md5, the dominant cost of BOTH passes — is
    keyed by :func:`~.text.text_key` instead of the document id, built
    once per DISTINCT text and lazily checkpointed.  The MODEL pass
    recovers the exact per-bucket counts by weighting each distinct
    text's grams with its (row, target-row) multiplicities — ``sum``
    where the direct path has ``count``: ``c_raw = Σ m_t·cnt_t(b)``,
    ``c_tgt = Σ mt_t·cnt_t(b)`` — exact integers, so the log-ratio
    table is bit-identical; the SCORING pass scores each distinct text
    once against the broadcast table and joins the narrow (key, score)
    relation back (scores are pure functions of the text;
    property-pinned path-identical).  Work
    Θ(distinct·grams) instead of Θ(rows·grams); the ∝N legs that
    remain are one cheap fingerprint pass and the narrow join-back.
    On a unique corpus it degrades to the fingerprint exchange —
    callers gate on the footer row count (the BPE/shingle dial).
    """
    # spread the raw rows before tokenize+explode (the doc_ngrams /
    # word_shingles discipline): few input splits must not serialize
    # the gram hashing into few tasks
    par = docs.sparkSession.sparkContext.defaultParallelism
    row_cols = [
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        target.cast("boolean").alias("is_target"),
    ]
    in_target = F.when(F.col("is_target"), 1).otherwise(0)
    bucket = F.explode(_hashed_bigram_buckets(text_col, n_buckets)).alias("bucket")
    if collapse:
        fpdocs = docs.repartition(par).select(
            *row_cols, text_key(text_col).alias("__fp")
        )
        keys = ["__fp"]
        feats = (
            docs.select(text_key(text_col).alias("__fp"), text_col)
            .dropDuplicates(["__fp"])
            .repartition(par)
            .select("__fp", bucket)
            # evaluated by BOTH passes — without the lazy checkpoint
            # each would re-run the distinct+gram pipeline; narrow
            # (fp, bucket), bounded by distinct texts × grams
            .localCheckpoint(eager=False)
        )
        weighted = feats.join(
            fpdocs.groupBy("__fp").agg(
                F.count(F.lit(1)).alias("m"), F.sum(in_target).alias("mt")
            ),
            "__fp",
        )
        c_raw, c_tgt = F.sum("m"), F.sum("mt")
    else:
        keys = [id_col, *carry_cols]
        feats = weighted = docs.repartition(par).select(*row_cols, bucket)
        c_raw, c_tgt = F.count(F.lit(1)), F.sum(in_target)
    per_bucket = weighted.groupBy("bucket").agg(
        c_raw.alias("c_raw"), c_tgt.alias("c_tgt")
    )
    # the grand totals come from an UNPARTITIONED window over the
    # ≤ n_buckets-row bucket table — a SinglePartition pass over bytes
    # — keeping the model a single subtree.  The 1-row-aggregate
    # crossJoin fold would give the same plan shape in two subtrees,
    # and any attempt to share per_bucket between them (lazy
    # localCheckpoint) races its two consumers into duplicate corpus
    # passes (measured 10.8 s vs 5.2 s at sf1).
    w_all = Window.partitionBy()
    lr_tbl = per_bucket.select(
        "bucket",
        (
            F.log(F.col("c_tgt") + 1)
            - F.log(F.sum("c_tgt").over(w_all) + n_buckets)
            - F.log(F.col("c_raw") + 1)
            + F.log(F.sum("c_raw").over(w_all) + n_buckets)
        ).alias("lr"),
    )
    scores = (
        feats.join(F.broadcast(lr_tbl), "bucket")
        .groupBy(*keys)
        .agg(F.round(F.sum("lr"), 6).alias("score"))
    )
    if collapse:
        return fpdocs.join(scores, "__fp").select(id_col, *carry_cols, "score")
    return scores


def dsir_select(docs: DataFrame, target: F.Column, n_buckets: int = 1024,
                k: int = 100, text_col: str = "text",
                id_col: str = "doc_id",
                carry_cols: tuple[str, ...] = ("source", "lang"),
                collapse: bool = False) -> DataFrame:
    """DSIR importance selection, deterministic form: keep the top
    ``k`` documents by log-likelihood-ratio score.  Algorithm, plan
    shape, determinism, and the ``collapse`` contract are documented
    on :func:`_dsir_scores` (the shared scoring core); top-k is
    ``orderBy().limit(k)`` → TakeOrderedAndProject, never a
    single-reducer global window."""
    scores = _dsir_scores(docs, target, n_buckets, text_col, id_col,
                          carry_cols, collapse)
    return scores.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def dsir_resample(docs: DataFrame, target: F.Column, n_buckets: int = 1024,
                  k: int = 100, seed: str = "gumbel",
                  text_col: str = "text", id_col: str = "doc_id",
                  carry_cols: tuple[str, ...] = ("source", "lang"),
                  collapse: bool = False) -> DataFrame:
    """DSIR importance RESAMPLING — the selection step the paper
    actually prescribes (Xie et al. 2023 §3: sample, don't rank —
    deterministic top-k over-concentrates on one mode of the target
    distribution; resampling keeps diversity in proportion to
    importance).  Samples ``k`` documents WITHOUT replacement with
    probability ∝ exp(score) via the Gumbel-top-k trick: the k largest
    values of ``score + Gumbel(0,1)`` are exactly a weighted sample
    without replacement (Vieira 2014).

    Deterministic and cross-engine reproducible: the Gumbel noise is a
    pure function of the document id through the cross-engine md5 hash
    — ``u = (H(id) + 0.5) / 2³²`` (an exact dyadic rational in (0,1)),
    ``g = −ln(−ln u)`` — so the DuckDB oracle replays the identical
    draw.  The perturbed key is rounded to 6 dp with an ``id_col``
    tie-break (the dsir_select determinism discipline).  Plan shape is
    the scoring core's (see :func:`_dsir_scores`, including the
    ``collapse`` contract — the noise is keyed on the document id, so
    it applies AFTER the per-distinct-text join-back) plus one
    projection and a TakeOrderedAndProject."""
    from .text import cross_engine_hash

    scores = _dsir_scores(docs, target, n_buckets, text_col, id_col,
                          carry_cols, collapse)
    u = (
        cross_engine_hash(F.col(id_col).cast("string"), seed=seed)
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    g = -F.log(-F.log(u))
    return (
        scores.withColumn("gumbel_key", F.round(F.col("score") + g, 6))
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(k)
    )


def shard_divergence(docs_with_shard: DataFrame, shard_col: str = "shard",
                     text_col: str = "text") -> DataFrame:
    """Per-shard unigram Jensen-Shannon divergence vs the global corpus
    — the data-mixing diagnostic for a training shard layout: a shard
    whose token distribution drifts from the corpus signals a skewed
    order key or a bad interleave upstream.

    For shard distribution P and global distribution Q (natural log):
    ``JSD = 0.5·Σ p·ln(p/m) + 0.5·Σ q·ln(q/m)``, ``m = (p+q)/2``.
    Tokens ABSENT from a shard contribute ``0.5·q·ln 2`` to the second
    sum, so the whole absent tail folds into the closed form
    ``0.5·ln 2·(1 − Σ_present q)`` — no shard×vocab grid is ever
    materialized; the plan touches only (shard, token) pairs that
    exist.

    Scale shape: ONE corpus pass — a groupBy(shard, token) shuffle
    (map-side combine makes the shuffle |shards|×|vocab|-bounded) —
    then three windows over that bounded relation (per-token, per-
    shard, and one unpartitioned pass over bytes for the grand total:
    no broadcast of a vocab-sized table, no second corpus pass), and
    ONE per-shard aggregation in which the most over-represented token
    falls out as a ``min_by`` argmax (max p/q at 6 dp, alphabetical
    tie-break) — no window branch, so nothing re-reads the corpus and
    nothing needs a checkpoint.  The only other scan is the narrow
    per-shard document count.  Per-shard output: document count, token
    count, JSD (6 dp), top token.  Shards whose documents are all
    blank carry no distribution and are omitted.
    """
    par = docs_with_shard.sparkSession.sparkContext.defaultParallelism
    # lowercase before tokenizing — the _TOKS oracle convention (see
    # _hashed_bigram_buckets); a mixed-case corpus must not diverge
    tok = docs_with_shard.repartition(par).select(
        F.col(shard_col).alias("shard"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    st = tok.groupBy("shard", "tok").agg(F.count(F.lit(1)).alias("c_st"))
    enriched = st.select(
        "shard",
        "tok",
        "c_st",
        F.sum("c_st").over(Window.partitionBy("tok")).alias("c_g"),
        F.sum("c_st").over(Window.partitionBy("shard")).alias("t_s"),
        F.sum("c_st").over(Window.partitionBy()).alias("g_tot"),
    )
    p = F.col("c_st") / F.col("t_s")
    q = F.col("c_g") / F.col("g_tot")
    m = (p + q) / 2
    terms = enriched.select(
        "shard",
        "tok",
        F.col("t_s"),
        (0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)).alias("contrib"),
        q.alias("q_present"),
        F.round(p / q, 6).alias("over_ratio"),
    )
    per_shard = terms.groupBy("shard").agg(
        F.max("t_s").alias("n_tokens"),
        F.round(
            F.sum("contrib")
            + 0.5 * math.log(2) * (1 - F.sum("q_present")),
            6,
        ).alias("js_divergence"),
        F.min_by(
            F.col("tok"),
            F.struct((-F.col("over_ratio")).alias("nr"), F.col("tok").alias("tk")),
        ).alias("top_token"),
    )
    n_docs = docs_with_shard.groupBy(F.col(shard_col).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return per_shard.join(F.broadcast(n_docs), "shard").select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "js_divergence",
        "top_token",
    )
