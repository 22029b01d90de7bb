"""Text: per-document analysis over ``documents`` — token stats,
language id, quality heuristics, PII redaction, BM25/TF-IDF, n-gram
language-model scores — and the text fragments the dedup and corpus
oracles share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from ..operators.curation import (
    EMAIL_RE,
    PHONE_RE,
    pii_redact,
    quality_flags,
    repetition_stats,
)
from ..operators.similarity import spread_small
from ..operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    lang_id,
    quality_score,
    text_key,
    token_stats,
    tokens,
)
from ..sources.readers import collapse_dial, table_row_count
from .core import _t

ORACLES: dict[str, str] = {}


# normalized text + tokens, shared by the text/dedup oracles.  Blank
# text maps to an EMPTY list — DuckDB's string_split_regex('') yields
# [''] while operators.text.tokens yields [], and list_sum over the
# empty result must fold to 0 like Spark's F.aggregate(init 0), so the
# array oracles guard with CASE/COALESCE (round-2 ADVICE).
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_TOKS = f"CASE WHEN {_NORM} = '' THEN [] ELSE string_split_regex({_NORM}, '\\s+') END"


def _hash_sql(expr: str, seed: str = "") -> str:
    """DuckDB side of operators.text.cross_engine_hash."""
    inner = f"concat('{seed}:', {expr})" if seed else expr
    return f"('0x' || substr(md5({inner}), 1, 8))::BIGINT"


def _count_token_sql(word: str) -> str:
    if word.isascii():
        return f"CAST(len(regexp_extract_all(text, '\\b{word}\\b')) AS BIGINT)"
    return (
        f"CAST((length(text) - length(replace(text, '{word}', ''))) // length('{word}') AS BIGINT)"
    )


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = token_stats(_t(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        "avg_token_len",
    )


ORACLES["doc_token_stats"] = f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                 AS n_bpe_tokens,
               CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct_tokens,
               ROUND(length(regexp_replace(text, '\\s+', '', 'g'))
                     / GREATEST(len({_TOKS}), 1)::DOUBLE, 4) AS avg_token_len
        FROM documents
    """


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_t(spark, sf_dir, "documents"))


ORACLES["doc_fingerprint"] = f"""
        SELECT doc_id, md5({_NORM}) AS fp_md5,
               {_hash_sql(_NORM)} AS fp_hash
        FROM documents
    """


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram repetition metrics (top-gram share, distinct ratio)."""
    return repetition_stats(_t(spark, sf_dir, "documents"), n=2)


ORACLES["doc_repetition"] = r"""
        WITH t AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        ), g AS (
          SELECT doc_id, w[i] || ' ' || w[i + 1] AS gram
          FROM t, LATERAL (SELECT unnest(range(1, len(w))) AS i) r
          WHERE len(w) >= 2
        ), pg AS (
          SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_grams,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
               ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS top_gram_ratio,
               ROUND(COUNT(*)::DOUBLE / SUM(c), 6) AS distinct_ratio
        FROM pg GROUP BY doc_id
    """


def q_doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction exercised on synthesized spans: every document gets
    a deterministic email + phone appended, then redacted; output is the
    md5 of the redacted text + per-kind counts."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 123-4567 now"),
        ),
    )
    red = pii_redact(aug)
    return red.select(
        "doc_id", F.md5("text").alias("fp_redacted"), "n_emails", "n_phones"
    )


ORACLES["doc_pii_redact"] = f"""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or +1 (555) 123-4567 now' AS text
          FROM documents
        ), e AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
                 regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS text
          FROM aug
        ), p AS (
          SELECT doc_id, n_emails,
                 len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
                 regexp_replace(text, '{PHONE_RE}', '<PHONE>', 'g') AS text
          FROM e
        )
        SELECT doc_id, md5(text) AS fp_redacted,
               CAST(n_emails AS BIGINT) AS n_emails,
               CAST(n_phones AS BIGINT) AS n_phones
        FROM p
    """


def q_doc_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function breadth over document tokens:
    transform/filter/aggregate (fold)/distinct/slice — all lambda
    expressions compiled into the row pipeline (NOT Python UDFs), so
    per-document token analytics stay shuffle-free and codegen'd."""

    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_toks"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).cast("long").alias("n_long"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)).alias(
            "total_chars"
        ),
        F.concat_ws("|", F.slice(toks, 1, 3)).alias("first3"),
        F.array_max(F.transform(toks, F.length)).cast("long").alias("max_len"),
    )


ORACLES["doc_array_funcs"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_toks,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
           CAST(len(list_filter(t, x -> length(x) > 4)) AS BIGINT) AS n_long,
           CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT)
             AS total_chars,
           COALESCE(array_to_string(t[1:3], '|'), '') AS first3,
           CAST(list_max(list_transform(t, x -> length(x))) AS BIGINT) AS max_len
    FROM toks
"""


def q_doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window document chunking via a Python UDTF (the Spark 4
    UDTF surface: one row in, N rows out through a lateral join):
    split each document into 32-token chunks and report each chunk's
    token/char size — the chunking step in front of a tokenizer.

    A UDTF is Arrow-batched but still Python-side; the docstring-cited
    equivalent exists as pure exprs (sequence+slice, see doc_ngrams) —
    this entry deliberately exercises the UDTF path itself."""

    @udtf(returnType="chunk_idx: bigint, n_tokens: bigint, n_chars: bigint")
    class ChunkDoc:
        def eval(self, text):
            toks = (text or "").strip().lower().split()
            if not toks:
                return
            for i in range(0, len(toks), 32):
                chunk = toks[i : i + 32]
                yield i // 32, len(chunk), len(" ".join(chunk))

    spark.udtf.register("chunk_doc", ChunkDoc)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("docs_for_chunking")
    return spark.sql(
        "SELECT doc_id, c.chunk_idx, c.n_tokens, c.n_chars "
        "FROM docs_for_chunking, LATERAL chunk_doc(text) c"
    )


ORACLES["doc_chunks_udtf"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    chunks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             w[i*32+1 : least((i+1)*32, len(w))] AS chunk
      FROM toks,
           LATERAL (SELECT unnest(range(0, (len(w) + 31) // 32)) AS i) t
      WHERE len(w) >= 1)
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           CAST(length(array_to_string(chunk, ' ')) AS BIGINT) AS n_chars
    FROM chunks
"""


def q_doc_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch audit: ``approx_top_k`` heavy hitters over
    the exploded token stream, joined against the exact per-term counts
    — per term: exact count + a flag that the sketch, IF it reported
    the term, reported exactly the true count.  Tokens outside the
    sketch's k-row output coalesce to TRUE (vacuous — the sketch makes
    no claim about them), so the relation is deterministic at ANY
    vocabulary size, not just ≤ k: while distinct terms ≤
    maxItemsTracked (pinned to 10000 here) every tracked count is
    exact by construction, and which ties straddle the k-boundary no
    longer matters (round-5 ADVICE).  At corpus scale the same plan
    reports the sketch's error on the true heavy hitters — the
    token-distribution profile a tokenizer-training run reads."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
    sk = (
        tok.agg(F.expr("approx_top_k(tok, 100, 10000)").alias("tk"))
        .select(F.explode("tk").alias("s"))
        .select(F.col("s.item").alias("tok"), F.col("s.count").alias("sk_cnt"))
    )
    exact = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return exact.join(sk, "tok", "left").select(
        "tok",
        F.col("cnt").cast("long").alias("cnt"),
        F.coalesce(F.col("sk_cnt") == F.col("cnt"), F.lit(True)).alias(
            "sketch_count_exact"
        ),
    )


ORACLES["doc_heavy_hitters"] = f"""
    SELECT tok, COUNT(*) AS cnt, TRUE AS sketch_count_exact
    FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
    GROUP BY tok
"""


def q_doc_rarity_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative token-rarity score per document — the
    perplexity-proxy quality signal of LLM curation (a document whose
    tokens are all corpus-frequent reads like boilerplate; one made of
    corpus-rare tokens is either informative or garbage, and both
    tails get routed to closer inspection).  Score is the exact
    rational ``Σ tf·(N_total div cf)`` — the unigram surprisal shape
    with integer division replacing the libm-dependent log, bit-exact
    cross-engine; rarity_avg is the per-token mean (integer div).

    Plan: explode → (doc, term) tf aggregate → term cf aggregate →
    shuffle join back on term.  The (doc,term) pre-aggregation bounds
    the hot-stopword key at |docs| rows (not |occurrences|), and AQE
    skew-split handles the rest; the corpus total is a 1-row broadcast
    scalar."""
    docs = _t(spark, sf_dir, "documents")

    par = spark.sparkContext.defaultParallelism
    toks = docs.repartition(par).select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    tot = cf.agg(F.sum("cf").alias("n_total"))
    return (
        tf.join(cf, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.expr("n_total div cf")).cast("long").alias("rarity_sum"),
        )
        .withColumn("rarity_avg", F.expr("rarity_sum div n_tokens"))
    )


ORACLES["doc_rarity_quality"] = f"""
        WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
        tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
               FROM toks GROUP BY 1, 2),
        cf AS (SELECT term, SUM(tf) AS cf FROM tf GROUP BY 1),
        tot AS (SELECT SUM(cf) AS n_total FROM cf)
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf * (n_total // cf)) AS BIGINT) AS rarity_sum,
               CAST(SUM(tf * (n_total // cf)) // SUM(tf) AS BIGINT) AS rarity_avg
        FROM tf JOIN cf USING (term) CROSS JOIN tot
        GROUP BY doc_id
    """


def q_doc_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 salient terms by a df-normalized tf score —
    the tf-idf retrieval shape (tf aggregate ⋈ document-frequency
    aggregate ⋈ corpus-size scalar, window top-k per doc).

    Scoring uses the exact rational ``tf·10⁶·(N+1) div (df+1)``
    instead of ``tf·ln((N+1)/(df+1))``: within a document the ranking
    differs only across ties the log would compress, and the integer
    form is bit-exact cross-engine (ln is libm-dependent).  Swap the
    log form in production if score VALUES (not ranks) matter."""
    docs = _t(spark, sf_dir, "documents")

    par = spark.sparkContext.defaultParallelism
    toks = docs.repartition(par).select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score_e6", F.expr("(tf * 1000000 * (n_docs + 1)) div (df + 1)"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_e6").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "score_e6", "rk")
    )


ORACLES["doc_tfidf_topterms"] = f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             CAST(tf * 1000000 * (n_docs + 1) AS BIGINT) // (df + 1) AS score_e6
      FROM tf JOIN dfq USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, df, score_e6,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score_e6 DESC, term) AS BIGINT) AS rk
    FROM scored QUALIFY rk <= 3
"""


def _lang_id_sql() -> str:
    langs = sorted(LANG_MARKERS)
    score_exprs = {
        lang: "(" + " + ".join(_count_token_sql(w) for w in LANG_MARKERS[lang]) + ")"
        for lang in langs
    }
    # same fold as operators.text.lang_id: reverse-alphabetical with >=
    pred = "'und'"
    best = "CAST(0 AS BIGINT)"
    for lang in reversed(langs):
        s = f"s_{lang}"
        pred = f"CASE WHEN {s} > 0 AND {s} >= {best} THEN '{lang}' ELSE {pred} END"
        best = f"GREATEST({s}, {best})"
    selects = ", ".join(f"{score_exprs[lang]} AS s_{lang}" for lang in langs)
    outer = ", ".join(f"s_{lang} AS score_{lang}" for lang in langs)
    return f"""
        WITH scored AS (SELECT doc_id, {selects} FROM documents)
        SELECT doc_id, {pred} AS lang_pred, {outer} FROM scored
    """


def _quality_sql() -> str:
    n_stop = " + ".join(_count_token_sql(w) for w in STOPWORDS)
    return f"""
        WITH base AS (
          SELECT doc_id,
                 CAST(len({_TOKS.replace('text', 'text')}) AS BIGINT) AS n_tokens,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
                 ({n_stop}) AS n_stop
          FROM documents
        )
        SELECT doc_id, n_tokens,
               ROUND(n_punct / GREATEST(n_chars, 1)::DOUBLE, 4) AS punct_ratio,
               ROUND(n_stop / GREATEST(n_tokens, 1)::DOUBLE, 4) AS stopword_ratio,
               ROUND(0.4 * LEAST(n_tokens / 100.0, 1.0)
                     + 0.3 * LEAST(n_stop / GREATEST(n_tokens, 1)::DOUBLE * 4, 1.0)
                     + 0.3 * (1.0 - LEAST(n_punct / GREATEST(n_chars, 1)::DOUBLE * 4, 1.0)),
                     4) AS quality
        FROM base
    """


# Shared Gopher/C4 weak-label gate CTEs (base → m), used by BOTH the
# doc_quality_flags oracle and the doc_quality_classifier oracle (which
# re-applies the same conjunction at min_words=20): one definition, so
# a gate tweak — a regex, a ratio threshold — cannot desynchronize the
# classifier's weak-keep count from the Spark weak labels it trains on.
_QUALITY_GATE_CTES = r"""base AS (
          SELECT doc_id, n_chars, text,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
                 length(regexp_replace(text, '\s+', '', 'g')) AS n_nospace,
                 len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols,
                 string_split(text, chr(10)) AS lines
          FROM documents
        ), m AS (
          SELECT doc_id, n_chars, n_words,
                 n_nospace / GREATEST(n_words, 1)::DOUBLE AS mwl_raw,
                 n_symbols / GREATEST(n_words, 1)::DOUBLE AS sym_ratio,
                 len(list_filter(lines, l -> regexp_matches(trim(l), '^([-*•])')))
                   / GREATEST(len(lines), 1)::DOUBLE AS bullet_ratio,
                 len(list_filter(lines, l -> regexp_matches(trim(l), '\.\.\.$')))
                   / GREATEST(len(lines), 1)::DOUBLE AS ell_ratio,
                 NOT contains(lower(text), 'lorem ipsum') AS ok_no_lorem,
                 NOT contains(text, '{') AS ok_no_braces
          FROM base
        )"""


def _quality_keep_sql(min_words: int) -> str:
    """The gate conjunction over _QUALITY_GATE_CTES's m columns."""
    return (
        f"(n_words >= {min_words} AND n_words <= 100000)"
        " AND (mwl_raw >= 2.0 AND mwl_raw <= 12.0)"
        " AND (sym_ratio <= 0.1) AND (bullet_ratio <= 0.9)"
        " AND (ell_ratio <= 0.3) AND ok_no_lorem AND ok_no_braces"
    )


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = lang_id(_t(spark, sf_dir, "documents"))
    casts = [F.col(f"score_{lang}").cast("long").alias(f"score_{lang}") for lang in sorted(LANG_MARKERS)]
    return df.select("doc_id", "lang_pred", *casts)


ORACLES["doc_lang_id"] = _lang_id_sql()


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = quality_score(_t(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "punct_ratio",
        "stopword_ratio",
        "quality",
    )


ORACLES["doc_quality"] = _quality_sql()


def q_doc_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style per-rule quality gates + the keep conjunction."""
    return quality_flags(_t(spark, sf_dir, "documents"))


ORACLES["doc_quality_flags"] = f"""
        WITH {_QUALITY_GATE_CTES}
        SELECT doc_id, n_chars, CAST(n_words AS BIGINT) AS n_words,
               ROUND(mwl_raw, 4) AS mean_word_len,
               (n_words >= 50 AND n_words <= 100000) AS ok_words,
               (mwl_raw >= 2.0 AND mwl_raw <= 12.0) AS ok_mean_word_len,
               (sym_ratio <= 0.1) AS ok_symbol_ratio,
               (bullet_ratio <= 0.9) AS ok_bullet_lines,
               (ell_ratio <= 0.3) AS ok_ellipsis_lines,
               ok_no_lorem, ok_no_braces,
               ({_quality_keep_sql(50)}) AS keep
        FROM m
    """


def q_doc_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth over documents: reverse/substring, pad,
    repeat, position, translate, levenshtein — all native Column
    expressions with engine-identical semantics (function surface)."""
    docs = _t(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.reverse(F.substring(low, 1, 16)).alias("rev16"),
        F.lpad("lang", 5, "_").alias("lang_pad"),
        F.repeat(F.col("lang"), 2).alias("lang_rep"),
        F.instr(low, "the").cast("long").alias("pos_the"),
        F.translate("lang", "aeiou", "AEIOU").alias("lang_tr"),
        F.levenshtein("lang", "source").cast("long").alias("lev_ls"),
    )


ORACLES["doc_string_funcs"] = """
    SELECT doc_id,
           reverse(substr(lower(text), 1, 16)) AS rev16,
           lpad(lang, 5, '_') AS lang_pad,
           repeat(lang, 2) AS lang_rep,
           CAST(instr(lower(text), 'the') AS BIGINT) AS pos_the,
           translate(lang, 'aeiou', 'AEIOU') AS lang_tr,
           CAST(levenshtein(lang, source) AS BIGINT) AS lev_ls
    FROM documents
"""


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-20 documents for the query {join, scan,
    vector} (k1=1.2, b=0.75) — the ranked-retrieval shape over the
    inverted-index aggregates (tf ⋈ df ⋈ doc-length ⋈ corpus scalars).

    All-integer fixed point, bit-exact cross-engine: the k1/b fractions
    clear to ``44·tf·T div (20·tf·T + 6·T + 18·dl·N)`` (×10³) and idf
    uses the exact rational ``(2(N−df)+1)·10⁶ div (2·df+1)`` instead of
    its log — per-term ranking is identical (log is monotone) and no
    libm call enters the plan; swap the log form in production if score
    VALUES matter.  The factors stay < 2⁶³ for corpora ≤ ~10⁹ docs ×
    10³ tokens (docstring bound, checked in the derivation).

    Plan shape: the token stream is NEVER exploded — per-term tf and
    the document length are array expressions on the scan (a bounded
    query has bounded tf columns), unpivoted with ``stack``.  The only
    aggregates are the two tiny broadcast scalars (df per query term,
    corpus totals) and the per-doc score sum; global top-k compiles to
    TakeOrderedAndProject — per-partition heaps, no global sort."""

    docs = _t(spark, sf_dir, "documents")
    terms = ["join", "scan", "vector"]
    base = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.size(F.filter("toks", (lambda term: lambda x: x == term)(t)))
            .cast("long")
            .alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stack_expr = "stack({}, {}) AS (term, tf)".format(
        len(terms), ", ".join(f"'{t}', tf_{i}" for i, t in enumerate(terms))
    )
    tf = base.selectExpr("doc_id", "dl", stack_expr).filter(F.col("tf") > 0)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    tot = base.agg(
        F.sum("dl").cast("long").alias("t_tokens"), F.count("*").alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "idf_e6", F.expr("(((n_docs - df) * 2 + 1) * 1000000) div (2 * df + 1)")
        )
        .withColumn(
            "tfc_e3",
            F.expr(
                "(44 * tf * t_tokens * 1000) div "
                "(20 * tf * t_tokens + 6 * t_tokens + 18 * dl * n_docs)"
            ),
        )
        .withColumn("score_e6", F.expr("(idf_e6 * tfc_e3) div 1000"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("score_e6").cast("long").alias("bm25_e6"),
            F.count("*").alias("n_terms"),
        )
        .orderBy(F.col("bm25_e6").desc(), F.col("doc_id"))
        .limit(20)
    )


ORACLES["doc_bm25_topk"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    dl AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term IN ('join', 'scan', 'vector') GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS t_tokens, COUNT(*) AS n_docs
            FROM dl),
    scored AS (
      SELECT tf.doc_id,
             (((n_docs - df) * 2 + 1) * 1000000) // (2 * df + 1) AS idf_e6,
             (44 * tf * t_tokens * 1000)
               // (20 * tf * t_tokens + 6 * t_tokens + 18 * dl.dl * n_docs)
               AS tfc_e3
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
      JOIN dfreq ON tf.term = dfreq.term
      CROSS JOIN tot)
    SELECT doc_id,
           CAST(SUM((idf_e6 * tfc_e3) // 1000) AS BIGINT) AS bm25_e6,
           COUNT(*) AS n_terms
    FROM scored GROUP BY doc_id
    ORDER BY bm25_e6 DESC, doc_id
    LIMIT 20
"""


def q_doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style corpus-LM quality score: a bigram MLE model is
    trained on the whole corpus and every document is scored by its
    average negative log-likelihood and perplexity under it — the
    classic filter that drops gibberish (high ppl) and boilerplate
    (abnormally low ppl).

    Both model tables are plain aggregations; scoring is two equi-joins
    on (bigram, unigram) keys — distributed end-to-end, no vocabulary
    collected to the driver.  At corpus scale the hot-key hazard is the
    handful of stopword bigrams; the same doc-frequency cap used by
    ``ngram_jaccard_pairs`` (dedup.py:97) applies if the model join
    skews.  Docs with <2 tokens have no bigrams and drop out (same
    filter on both engines).

    Above the footer-count collapse dial (round 12 — the dedup-report /
    DSIR insight a third time) the same pipeline runs keyed by
    operators.text.text_key instead of the document id: both model
    counts are recovered exactly by weighting each distinct text's
    bigrams with its clone multiplicity (``c12 = Σ m_t·cnt_t(bg)``),
    every distinct text is scored once, and the narrow (key, n_bigrams,
    avg_nll, ppl) relation joins back —
    path-identical (the per-doc NLL multiset IS the rep's), work
    Θ(distinct·bigrams) instead of Θ(rows·bigrams)."""

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _bigram_ppl(
        docs,
        collapse=collapse_dial(spark, sf_dir),
        spread_rows=table_row_count(sf_dir, "documents"),
    )


ORACLES["doc_bigram_perplexity"] = f"""
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
      FROM bg JOIN m12 USING (bg) JOIN m1 USING (w1))
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(nll), 6) AS avg_nll,
           ROUND(EXP(AVG(nll)), 4) AS ppl
    FROM sc GROUP BY doc_id
"""


def _bigram_ppl(docs: DataFrame, collapse: bool = False,
                spread_rows: int | None = None) -> DataFrame:
    """Corpus-bigram-LM scoring core for q_doc_bigram_perplexity (and,
    through it, corpus_ccnet_buckets) — see that docstring for the
    algorithm.

    One body for both states of the collapse dial: the model counts,
    the NLL and the per-key scoring are written once, and ``collapse``
    picks only the keying and the join-back.  Direct: bigrams keyed by
    ``doc_id``, each counted once (``count``).  Collapsed: bigrams of
    one representative per :func:`~..operators.text.text_key`, each
    weighted by its clone multiplicity (``sum(m)``), the per-key
    scores joined back to every document.

    ``spread_rows`` (caller's footer count, r14): below the spread
    gate the documents scan is ONE parquet split, and every consumer
    of the bigram stream (two model aggregations' broadcast builds +
    the scoring legs) re-ran tokenize+explode as a ~0.5-1 s
    SINGLE-TASK job (profiled 4-6 such jobs inside
    corpus_ccnet_buckets).  A round-robin spread of the raw rows
    before tokenization runs each pass cores-wide; each document's
    rows stay whole, so every per-doc float fold keeps its exact
    order and the result is bit-identical (the spread_small
    contract)."""

    def bigrams(df: DataFrame, key: str) -> DataFrame:
        base = spread_small(df, spread_rows).withColumn(
            "t", tokens(F.lower(F.col("text")))
        ).filter(
            F.size("t") >= 2
        )
        return base.select(
            key,
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, concat(t[i], ' ', t[i+1]) AS bg))"
                )
            ).alias("p"),
        ).select(key, "p.w1", "p.bg")

    if collapse:
        fpmap = docs.select("doc_id", text_key().alias("__fp"))
        key, weight = "__fp", F.sum("m")
        bg = (
            bigrams(
                docs.select(text_key().alias("__fp"), "text")
                .dropDuplicates(["__fp"]),
                key,
            )
            # feeds both model aggregations AND the scoring join — the
            # per_distinct_text checkpoint discipline; narrow, bounded
            # by distinct texts × bigrams
            .localCheckpoint(eager=False)
        )
        weighted = bg.join(
            fpmap.groupBy(key).agg(F.count(F.lit(1)).alias("m")), key
        )
    else:
        key, weight = "doc_id", F.count(F.lit(1))
        bg = weighted = bigrams(docs, key)
    m12 = weighted.groupBy("bg").agg(weight.alias("c12"))
    m1 = weighted.groupBy("w1").agg(weight.alias("c1"))
    nll = -F.log(F.col("c12").cast("double") / F.col("c1"))
    scores = (
        bg.join(m12, "bg")
        .join(m1, "w1")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
            F.round(F.exp(F.avg(nll)), 4).alias("ppl"),
        )
    )
    if collapse:
        return fpmap.join(scores, key).select("doc_id", "n_bigrams", "avg_nll", "ppl")
    return scores


QUERIES = {
    "doc_token_stats": q_doc_token_stats,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_repetition": q_doc_repetition,
    "doc_pii_redact": q_doc_pii_redact,
    "doc_array_funcs": q_doc_array_funcs,
    "doc_chunks_udtf": q_doc_chunks_udtf,
    "doc_heavy_hitters": q_doc_heavy_hitters,
    "doc_rarity_quality": q_doc_rarity_quality,
    "doc_tfidf_topterms": q_doc_tfidf_topterms,
    "doc_lang_id": q_doc_lang_id,
    "doc_quality": q_doc_quality,
    "doc_quality_flags": q_doc_quality_flags,
    "doc_string_funcs": q_doc_string_funcs,
    "doc_bm25_topk": q_doc_bm25_topk,
    "doc_bigram_perplexity": q_doc_bigram_perplexity,
}
