"""Text-analysis operators over the ``documents`` table (extension
surface; SURVEY.md §7 step 7).

Everything here is native Column expressions — no Python UDFs — so the
whole stage compiles into whole-stage codegen and scales linearly with
input splits.  Every function is deliberately expressible in ANSI SQL so
the DuckDB oracle can verify it value-for-value:

- tokenization: regex split / extract (JVM regex ≡ RE2 for the classes
  used here);
- deterministic cross-engine hashing: ``H(s) = int(md5(s)[:8], 16)``
  (Spark ``conv(substr(md5(s),1,8),16,10)``; DuckDB
  ``('0x' || substr(md5(s),1,8))::BIGINT``) — 32-bit, uniform enough
  for fingerprints/minhash, stable across engines and JVM versions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "ngram_strings",
    "cross_engine_hash",
    "tokens",
    "token_stats",
    "lang_id",
    "quality_score",
    "fingerprint",
    "LANG_MARKERS",
    "BPE_MERGES",
    "bpe_piece_count",
    "text_key",
]

# BPE-ish chunking: runs of alphanumerics or single non-space symbols.
BPE_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

# Stopword markers per language for the n-gram/stopword language-ID
# heuristic.  Counts of whole-token occurrences vote for a language;
# ties break alphabetically.  (Tiny marker sets — a real pipeline would
# load a dictionary per language; the mechanism is the point.)
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "und", "die", "nicht"],
    "en": ["the", "and", "of", "is"],
    "es": ["el", "y", "de", "que"],
    "fr": ["le", "et", "la", "est"],
    "zh": ["的", "是", "了", "在"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws if w.isascii()})

# ---------------------------------------------------------------------------
# Deterministic BPE piece counting (round-9 verdict #7)
# ---------------------------------------------------------------------------
# A REAL byte-pair-encoding merge table, applied exactly: each rule
# rewrites one adjacent token pair into a single private-use-area
# symbol, in fixed priority order, full-pass leftmost-first — which is
# `replace()` semantics in both Spark (F.replace) and DuckDB.  Because
# every token (original char or earlier merge's symbol) occupies
# exactly ONE character in the working string, an adjacent token pair
# is exactly a 2-char substring, so the replace chain IS the BPE merge
# loop — cascades included (rule 2 consumes rule 1's symbol to form
# "the").  Whitespace characters appear in no pair, so they block
# merges exactly like BPE pretokenization word boundaries, and are
# dropped before the final count (a piece is any residual character:
# letters, digits, punctuation, or a merge symbol).
#
# Piece counts from this table are what an LLM-data pipeline budgets
# with: n_pieces = n_chars - n_merges_applied, typically 1.2-1.5×
# the whitespace word count on English text — the drift that flips
# quota and packing decisions if a pipeline budgets in words.  The
# table is FIXED (versioned with the code, like a tokenizer's
# merges.txt), so every count is deterministic and the DuckDB oracle
# reproduces it bit-for-bit from the same table.
_BPE_SYM = [chr(0xE000 + i) for i in range(32)]
BPE_MERGES: tuple[tuple[str, str], ...] = (
    # (pair, symbol) in priority order; pairs may reference earlier
    # symbols (cascade), never whitespace.
    ("th", _BPE_SYM[0]),
    (_BPE_SYM[0] + "e", _BPE_SYM[1]),   # the
    ("in", _BPE_SYM[2]),
    ("an", _BPE_SYM[3]),
    ("on", _BPE_SYM[4]),
    ("er", _BPE_SYM[5]),
    ("re", _BPE_SYM[6]),
    (_BPE_SYM[3] + "d", _BPE_SYM[7]),   # and
    ("en", _BPE_SYM[8]),
    ("ti", _BPE_SYM[9]),
    (_BPE_SYM[9] + _BPE_SYM[4], _BPE_SYM[10]),  # ti+on = tion
    ("or", _BPE_SYM[11]),
    ("es", _BPE_SYM[12]),
    ("st", _BPE_SYM[13]),
    ("ar", _BPE_SYM[14]),
    ("ou", _BPE_SYM[15]),
    ("of", _BPE_SYM[16]),
    ("to", _BPE_SYM[17]),
    ("is", _BPE_SYM[18]),
    ("it", _BPE_SYM[19]),
    ("al", _BPE_SYM[20]),
    ("ed", _BPE_SYM[21]),
    (_BPE_SYM[2] + "g", _BPE_SYM[22]),  # in+g = ing
    ("le", _BPE_SYM[23]),
    ("at", _BPE_SYM[24]),
    ("se", _BPE_SYM[25]),
    ("nt", _BPE_SYM[26]),
    ("me", _BPE_SYM[27]),
    ("de", _BPE_SYM[28]),
    ("co", _BPE_SYM[29]),
    ("ll", _BPE_SYM[30]),
    (_BPE_SYM[5] + "s", _BPE_SYM[31]),  # er+s = ers
)

#: Whitespace characters dropped before the piece count (translate —
#: no regex pass; the same literal set on both engines).
BPE_WHITESPACE = " \t\n\r\x0b\x0c"


def bpe_piece_count(text: Column | str) -> Column:
    """Exact BPE piece count of ``text`` under :data:`BPE_MERGES` —
    pure JVM expressions (lower → literal replace chain → translate →
    length), no UDF, fully inside whole-stage codegen."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    for pair, sym in BPE_MERGES:
        c = F.replace(c, F.lit(pair), F.lit(sym))
    return F.length(F.translate(c, BPE_WHITESPACE, ""))


def text_key(text_col: str = "text") -> Column:
    """The raw-text collapse key: sha2-256 of the text (the dedup_exact
    digest standard; collision probability cryptographically
    negligible).  NULL texts ride the sentinel ``'null'``, which no
    64-hex-char digest can collide with, so they form their own group.
    Every collapse-before-compute consumer groups on this key, and the
    collapse dial measures its distinct fraction
    (``sources.readers.distinct_text_fraction``)."""
    t = F.col(text_col)
    return F.when(t.isNull(), F.lit("null")).otherwise(F.sha2(t, 256))


def per_distinct_text(df: DataFrame, derive, text_col: str = "text") -> DataFrame:
    """Collapse-before-compute for TEXT-FUNCTIONAL derivations (the
    same insight that collapsed the SimHash pair enumeration): run
    ``derive`` once per DISTINCT :func:`text_key` and join the results
    back to every row, so expression work scales with distinct texts,
    not rows — Θ(duplication) savings on a duplication-heavy corpus,
    graceful degradation (one narrow partial-agg exchange) on a unique
    one.

    ``derive(frame, key_col)`` is the caller's ONE body: the direct
    path runs it on the rows themselves (keyed by the row id); here it
    receives the representative frame — columns
    ``(key_col, text_col)``, one row per distinct text — and must
    return a frame that KEEPS ``key_col`` and adds the derived
    columns; ``text_col`` is dropped from its result before the join
    back (AQE broadcasts the narrow derived relation when small).
    NULL texts form their own group, so their derived values stay
    exactly what ``derive`` computes on a NULL text."""
    with_key = df.withColumn("__text_fp", text_key(text_col))
    reps = with_key.select("__text_fp", text_col).dropDuplicates(["__text_fp"])
    derived = derive(reps, "__text_fp")
    if text_col in derived.columns:
        derived = derived.drop(text_col)
    # Lazily checkpoint the derived relation: it is the expensive
    # subtree (the text-functional expressions over every distinct
    # text), and downstream consumers that evaluate their lineage more
    # than once — the range-partitioned ordering's sampling + map
    # passes, a join-back — would otherwise re-run the whole
    # dedup+derive pipeline per evaluation (measured 26 → 9 s on
    # corpus_bpe_budget at sf3).  The checkpoint is NARROW: key +
    # derived numerics, no text — bounded by the distinct-text count.
    derived = derived.localCheckpoint(eager=False)
    return with_key.join(derived, "__text_fp").drop("__text_fp")


def with_bpe_piece_count(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "n_pieces",
    collapse: bool = False,
) -> DataFrame:
    """Attach the exact BPE piece count of ``text_col`` as ``out_col``.

    ``collapse=False`` runs the 33-rule replace chain on every row —
    zero exchanges, the right plan when texts are (near-)unique.

    ``collapse=True`` is the collapse-before-count plan (round-10
    verdict #5, the same text-functional insight that collapsed the
    SimHash pair enumeration): the same derivation runs ONCE PER
    DISTINCT text through :func:`per_distinct_text` — grouped on
    :func:`text_key`, the narrow (key, count) relation joined back
    (AQE broadcasts it when small).  On a duplication-heavy corpus the
    replace-chain work drops from Θ(rows) to Θ(distinct): measured
    27.7 → 2.6 s at sf10 (K=10 tiled corpus).  On a fully unique
    corpus it degrades gracefully — the chain still runs once per row
    and the only extra cost is the fingerprint exchange.  Piece count
    is a pure function of the text, so both paths are bit-identical
    (property-pinned, NULL and empty texts included)."""

    def count(frame: DataFrame, _key: str | None = None) -> DataFrame:
        return frame.withColumn(out_col, bpe_piece_count(text_col).cast("long"))

    return per_distinct_text(df, count, text_col=text_col) if collapse else count(df)


def cross_engine_hash(col: Column | str, seed: str = "") -> Column:
    """32-bit deterministic hash identical in Spark and DuckDB SQL.

    ``H(s) = int(md5(seed ~ ':' ~ s)[:8], 16)`` — see module docstring.
    """
    c = F.col(col) if isinstance(col, str) else col
    if seed:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def cross_engine_hash_hi(col: Column | str, seed: str = "") -> Column:
    """Bits 32..63 of the same digest: hex chars 9-16 of the md5.

    Together with :func:`cross_engine_hash` this yields a 64-bit
    cross-engine hash from ONE md5 (Catalyst's common-subexpression
    elimination shares the digest); DuckDB side is
    ``('0x' || substr(md5(x), 9, 8))::BIGINT``.  Used by the 64-bit
    SimHash (operators.dedup.simhash with bits=64)."""
    c = F.col(col) if isinstance(col, str) else col
    if seed:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long")


def tokens(text: Column | str) -> Column:
    """Whitespace tokens; empty/blank text → empty array (not ['']).

    ``split`` on ``\\s+`` only ever produces empty strings at the two
    boundaries (leading/trailing whitespace, including tabs/newlines
    that ``F.trim`` would miss), so ``array_remove(…, '')`` yields
    exactly the real tokens — no extra regexp pass over the text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(c, r"\s+"), "")


def _count_token(text: Column, word: str) -> Column:
    """Whole-token occurrence count of ``word`` in ``text``."""
    # \b word boundaries behave identically in Java regex and RE2 for
    # ASCII words; CJK single chars use plain substring counting.
    if word.isascii():
        pat = rf"\b{word}\b"
        return F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(word), F.lit(""))))
        / F.length(F.lit(word))
    ).cast("int")


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token statistics: whitespace tokens, BPE-ish chunks,
    distinct tokens, average token length."""
    t = F.col(text_col)
    toks = tokens(t)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_RE), F.lit(0))).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.length(F.regexp_replace(t, r"\s+", "")) / F.greatest(F.size(toks), F.lit(1)),
            4,
        ).alias("avg_token_len"),
    )


def _lang_scores(text: Column) -> dict[str, Column]:
    return {
        lang: sum((_count_token(text, w) for w in words), F.lit(0))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword votes,
    alphabetical tie-break, 'und' (undetermined) when no marker hits."""
    scores = _lang_scores(F.col(text_col))
    langs = sorted(scores)  # alphabetical ⇒ deterministic argmax tie-break
    best = F.lit("und")
    best_score = F.lit(0)
    # fold in reverse-alphabetical order with >=, so of equal scores the
    # alphabetically-first language ends up winning
    for lang in reversed(langs):
        s = scores[lang]
        best = F.when((s > F.lit(0)) & (s >= best_score), F.lit(lang)).otherwise(best)
        best_score = F.greatest(s, best_score)
    out = df.select(
        F.col(id_col),
        best.alias("lang_pred"),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
    )
    return out


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Heuristic document quality in [0, 1] from length, punctuation
    ratio, stopword ratio, and mean token length — the standard cheap
    pre-filters of a training-data pipeline.

    ``keep_cols`` names extra columns of ``df`` to carry through the
    projection (e.g. a precomputed BPE piece count), so a caller that
    needs quality + another text-derived column pays ONE corpus scan
    instead of a self-join on the id."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_stop = sum((_count_token(t, w) for w in STOPWORDS), F.lit(0))
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1)).cast("double")
    stop_ratio = n_stop / safe_tokens
    len_component = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.4) * len_component
        + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0)))
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Normalized content fingerprint: md5 hex of lowercase,
    whitespace-collapsed text, plus the 32-bit numeric hash (for
    bucketing / rolling comparisons)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp_md5"),
        cross_engine_hash(norm).alias("fp_hash"),
    )


def ngram_strings(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a token-array expression, with the
    array LET-BOUND through ``transform(array(toks), arr → …)`` so it
    is evaluated once per ROW.

    Catalyst's CollapseProject inlines a once-referenced alias into the
    consuming expression, and inside a higher-order-function lambda the
    inlined expression re-evaluates once per GRAM — for ``tokens(...)``
    that is one regex split of the full document per n-gram (measured
    ~20% of the gram-generation stage on the 54-token bench corpus;
    proportionally more on longer documents).  Rows with fewer than n
    tokens yield an empty array, so callers may explode without a
    pre-filter (keeping their ``size >= n`` filter remains correct and
    prunes rows earlier).
    """

    def per_row(arr: Column) -> Column:
        return F.when(
            F.size(arr) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(arr, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.flatten(F.transform(F.array(toks), per_row))
