"""Property-based tests (hypothesis) — the invariants behind the
operators, checked on generated inputs instead of the fixed testdata.

Each property runs a bounded number of examples against small generated
DataFrames (Spark round-trips are ~100 ms each, so max_examples stays
small; the properties are chosen so few examples still bite: every one
of these caught real classes of bugs in engines — rank normalization
off-by-one, split instability under growth, salt-join row loss,
quantizer asymmetry).
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from recommendation_translation_spark.operators.curation import hash_split
from recommendation_translation_spark.operators.joins import salted_join
from recommendation_translation_spark.operators.rank import normalized_rank

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# (site, id, pageviews) rows — small alphabets force heavy ties and
# single-row sites, the rank edge cases.
rank_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=1,
    max_size=40,
)


@SETTINGS
@given(rows=rank_rows)
def test_rank_invariants(spark, rows):
    # dedupe (site,id) — the long table is keyed by it
    uniq = {(s, i): p for s, i, p in rows}
    df = spark.createDataFrame(
        [(s, str(i), float(p)) for (s, i), p in uniq.items()],
        "site string, id string, pageviews double",
    )
    out = normalized_rank(df).collect()
    # row count preserved; rank in (0, 1]; each site's max rank is
    # exactly 1.0 (the most-viewed article, SURVEY §2.5); ranks within
    # a site are distinct (row_number semantics, no gaps)
    assert len(out) == len(uniq)
    by_site: dict[str, list[float]] = {}
    for r in out:
        assert 0.0 < r.rank <= 1.0
        by_site.setdefault(r.site, []).append(r.rank)
    for site, ranks in by_site.items():
        n = len(ranks)
        assert math.isclose(max(ranks), 1.0)
        assert len(set(ranks)) == n
        assert math.isclose(min(ranks), 1.0 / n)


@SETTINGS
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1,
                 max_size=60, unique=True),
    extra=st.lists(st.integers(min_value=10_001, max_value=20_000), min_size=0,
                   max_size=20, unique=True),
)
def test_hash_split_stable_under_growth(spark, ids, extra):
    # the split of an existing document NEVER changes when the corpus
    # grows — the train/test-hygiene property of deterministic splits
    base = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    grown = spark.createDataFrame([(i,) for i in ids + extra], "doc_id long")
    s1 = {r.doc_id: r.split for r in hash_split(base).collect()}
    s2 = {r.doc_id: r.split for r in hash_split(grown).collect()}
    for i in ids:
        assert s1[i] == s2[i]


@SETTINGS
@given(
    facts=st.lists(
        st.tuples(st.integers(min_value=0, max_value=5),
                  st.integers(min_value=0, max_value=100)),
        min_size=0, max_size=60),
    dims=st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=6,
                  unique=True),
)
def test_salted_join_equals_plain_join(spark, facts, dims):
    # salting is a physical rewrite: the relation must be EXACTLY the
    # plain inner join, for any key skew including empty sides
    fact = spark.createDataFrame(
        [(k, v) for k, v in facts], "k long, v long"
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in dims], "k long, name string")
    plain = sorted(
        (r.k, r.v, r.name)
        for r in fact.join(dim, "k").select("k", "v", "name").collect()
    )
    salted = sorted(
        (r.k, r.v, r.name)
        for r in salted_join(
            fact, dim.withColumnRenamed("k", "dk"), "k", "dk", salt=4
        ).select("k", "v", "name").collect()
    )
    assert salted == plain


@SETTINGS
@given(
    vec=st.lists(st.floats(min_value=-2.0, max_value=2.0, allow_nan=False,
                           width=32),
                 min_size=4, max_size=8),
)
def test_sq8_quantize_bounds_and_symmetry(spark, vec):
    from recommendation_translation_spark.operators.similarity import sq8_quantize

    df = spark.createDataFrame([(vec,)], "v array<float>")
    codes = df.select(sq8_quantize("v").alias("q")).collect()[0].q
    neg = (
        df.select(F.transform("v", lambda x: -x).alias("v"))
        .select(sq8_quantize("v").alias("q"))
        .collect()[0]
        .q
    )
    for x, c, nc in zip(vec, codes, neg):
        assert -127 <= c <= 127
        clipped = max(-1.0, min(1.0, x))
        assert abs(c - clipped * 127) <= 0.5 + 1e-9
        # floor(x+0.5) is symmetric except exactly at half-way ties
        if abs((clipped * 127) % 1.0 - 0.5) > 1e-6:
            assert nc == -c


@SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40),
        min_size=1, max_size=10),
)
def test_ngram_jaccard_pairs_bounded_and_symmetric(spark, texts):
    from recommendation_translation_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    pairs = ngram_jaccard_pairs(df, n=2, threshold=0.0).collect()
    for r in pairs:
        assert r.a_id < r.b_id          # canonical orientation, no dupes
        assert 0.0 <= r.jaccard <= 1.0  # it is a similarity
    # identical non-trivial docs must reach jaccard 1.0
    dup = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b a b")], "doc_id long, text string"
    )
    got = ngram_jaccard_pairs(dup, n=2, threshold=0.0).collect()
    assert len(got) == 1 and math.isclose(got[0].jaccard, 1.0)


@SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=2, max_size=8),
    cap=st.integers(min_value=1, max_value=4),
)
def test_ngram_jaccard_capped_pairs_subset_of_uncapped(spark, texts, cap):
    # The document-frequency cap only ever REMOVES shingles, so at
    # threshold 0 a capped pair (nonempty capped intersection) implies
    # the uncapped intersection was nonempty too: capped pair KEYS are
    # a subset of uncapped pair keys.  (The Jaccard VALUE may go either
    # way — dropping a shingle present in only one side shrinks the
    # union and can raise the similarity — so the subset claim is on
    # identity, not on thresholded values.)
    from recommendation_translation_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    uncapped = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(
            df, n=2, threshold=0.0, max_doc_freq=None
        ).collect()
    }
    capped = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(
            df, n=2, threshold=0.0, max_doc_freq=cap
        ).collect()
    }
    assert capped <= uncapped


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@SETTINGS
@given(
    names=st.lists(st.text(alphabet="ab", min_size=0, max_size=6),
                   min_size=2, max_size=8, unique=True),
)
def test_fuzzy_pairs_ed1_equals_brute_force(spark, names):
    # the SymSpell deletion-neighborhood join must be COMPLETE at
    # distance <= 1: exactly the brute-force all-pairs result, including
    # the dist values, for any strings (empty, repeats, prefixes)
    from recommendation_translation_spark.operators.dedup import fuzzy_pairs_ed1

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, name string"
    )
    got = {(r.a_id, r.b_id): r.dist for r in fuzzy_pairs_ed1(df).collect()}
    want = {
        (i, j): _lev(a, b)
        for i, a in enumerate(names)
        for j, b in enumerate(names)
        if i < j and _lev(a, b) <= 1
    }
    assert got == want


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s0", "s1", "s2"]),
                  st.integers(min_value=0, max_value=500),
                  st.integers(min_value=0, max_value=9)),
        min_size=0, max_size=60),
)
def test_range_partitioned_ordering_equals_global_window(spark, rows):
    # the two-pass range-partitioned row number / running sum must be
    # EXACTLY the single-reducer global window, for any distribution
    # (including empty input, one giant group, all-tied order keys)
    from pyspark.sql import Window
    from recommendation_translation_spark.operators.ordering import (
        range_partitioned_row_number,
        range_partitioned_running_sum,
    )

    uniq = {(g, i): v for g, i, v in rows}
    df = spark.createDataFrame(
        [(g, i, v) for (g, i), v in uniq.items()],
        "grp string, id long, val long",
    )
    order = [F.col("id").desc(), F.col("grp")]

    got_rn = {
        (r.grp, r.id): r.rn
        for r in range_partitioned_row_number(df, order, "rn").collect()
    }
    want_rn = {
        (r.grp, r.id): r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got_rn == want_rn

    got_grouped = {
        (r.grp, r.id): r.rn
        for r in range_partitioned_row_number(
            df, [F.col("id")], "rn", group_cols=["grp"]
        ).collect()
    }
    want_grouped = {
        (r.grp, r.id): r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.partitionBy("grp").orderBy("id"))
        ).collect()
    }
    assert got_grouped == want_grouped

    got_sum = {
        (r.grp, r.id): r.run
        for r in range_partitioned_running_sum(df, order, "val", "run").collect()
    }
    want_sum = {
        (r.grp, r.id): r.run
        for r in df.withColumn(
            "run",
            F.sum("val").over(
                Window.orderBy(*order).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        ).collect()
    }
    assert got_sum == want_sum


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s0", "s1", "s2"]),
                  st.integers(min_value=0, max_value=500),
                  st.integers(min_value=0, max_value=9)),
        min_size=0, max_size=60),
)
def test_range_partitioned_measures_equals_separate_calls(spark, rows):
    # the multi-measure form (one range shuffle for N measures) must be
    # EXACTLY the per-measure primitives composed — row number, running
    # sum, and exclusive running max together, grouped and ungrouped
    from pyspark.sql import Window
    from recommendation_translation_spark.operators.ordering import (
        range_partitioned_measures,
    )

    uniq = {(g, i): v for g, i, v in rows}
    df = spark.createDataFrame(
        [(g, i, v) for (g, i), v in uniq.items()],
        "grp string, id long, val long",
    )
    order = [F.col("id").desc(), F.col("grp")]

    for group_cols in (None, ["grp"]):
        got = {
            (r.grp, r.id): (r.rn, r.run, r.rmax)
            for r in range_partitioned_measures(
                df,
                order if group_cols is None else [F.col("id")],
                [
                    ("row_number", None, "rn"),
                    ("running_sum", "val", "run"),
                    ("running_max", "val", "rmax", False),
                ],
                group_cols=group_cols,
            ).collect()
        }
        if group_cols is None:
            w = Window.orderBy(*order)
        else:
            w = Window.partitionBy(*group_cols).orderBy("id")
        want = {
            (r.grp, r.id): (r.rn, r.run, r.rmax)
            for r in df.withColumns(
                {
                    "rn": F.row_number().over(w),
                    "run": F.sum("val").over(
                        w.rowsBetween(
                            Window.unboundedPreceding, Window.currentRow
                        )
                    ),
                    "rmax": F.max("val").over(
                        w.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                }
            ).collect()
        }
        assert got == want


@SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="abc de", min_size=1, max_size=30),
        min_size=2, max_size=12),
    k=st.integers(min_value=0, max_value=4),
)
def test_simhash_pairs_complete_vs_brute_force(spark, texts, k):
    # the multi-block banding must return EXACTLY the brute-force set of
    # pairs within hamming <= k — completeness is the whole point
    from recommendation_translation_spark.operators.dedup import simhash, simhash_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for bits in (32, 64):
        sims = {r.doc_id: r.simhash for r in simhash(df, bits=bits).collect()}
        # mask: a 64-bit signature with the sign bit set collects as a
        # negative Python int; hamming is over the 64-bit pattern
        mask = (1 << 64) - 1
        want = {
            (a, b, bin((sims[a] ^ sims[b]) & mask).count("1"))
            for a in sims for b in sims
            if a < b and bin((sims[a] ^ sims[b]) & mask).count("1") <= k
        }
        got = {(r.a_id, r.b_id, r.hamming)
               for r in simhash_pairs(df, max_hamming=k, bits=bits).collect()}
        assert got == want, f"bits={bits}"


@SETTINGS
@given(
    toks=st.lists(st.integers(min_value=0, max_value=900), min_size=1,
                  max_size=50),
    seq_len=st.sampled_from([64, 512, 1000]),
)
def test_pack_sequences_invariants(spark, toks, seq_len):
    # packing must tile the concatenated token stream exactly: offsets
    # within bounds, pack ids monotone in doc order, spans consistent
    # with each document's length, stream coverage gap-free
    from recommendation_translation_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(toks)], "doc_id long, n_tokens long"
    )
    rows = sorted(pack_sequences(df, seq_len).collect(), key=lambda r: r.doc_id)
    offset = 0
    for r in rows:
        assert r.pack_id == offset // seq_len
        assert r.pack_offset == offset % seq_len
        if r.n_tokens == 0:
            assert r.n_spanned == 0
        else:
            end = offset + r.n_tokens - 1
            assert r.n_spanned == end // seq_len - offset // seq_len + 1
        offset += r.n_tokens


@SETTINGS
@given(
    lefts=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3),
                  st.integers(min_value=0, max_value=100)),
        min_size=0, max_size=30),
    rights=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3),
                  st.integers(min_value=0, max_value=100),
                  st.integers(min_value=-50, max_value=50)),
        min_size=0, max_size=30),
)
def test_asof_join_equals_pandas_merge_asof(spark, lefts, rights):
    # the distributed union+window as-of join must equal pandas
    # merge_asof (direction='backward') — an independent reference
    # implementation, not our own SQL
    import pandas as pd

    from recommendation_translation_spark.operators.joins import asof_join

    uniq_l = list({(k, t) for k, t in lefts})
    uniq_r = {(k, t): v for k, t, v in rights}
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(uniq_l)] or [(0, 0, 0)],
        "k long, ts long, lid long",
    )
    right = spark.createDataFrame(
        [(k, t, v) for (k, t), v in uniq_r.items()] or [(99, 0, 0)],
        "k long, ts long, v long",
    )
    got = {
        (r.k, r.ts, r.asof_v)
        for r in asof_join(left, right, on="k", value_cols=["v"]).collect()
    }

    lp = left.toPandas().sort_values("ts").reset_index(drop=True)
    rp = right.toPandas().sort_values("ts").reset_index(drop=True)
    m = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    want = {
        (int(r.k), int(r.ts), None if pd.isna(r.v) else int(r.v))
        for r in m.itertuples()
    }
    assert got == want


@SETTINGS
@given(
    probes=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3),
                  st.integers(min_value=0, max_value=2000)),
        min_size=0, max_size=25),
    builds=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3),
                  st.integers(min_value=0, max_value=2000)),
        min_size=0, max_size=25),
)
def test_range_count_equals_brute_force(spark, probes, builds):
    # the bucketed equi-join range count must equal the O(N*M) brute
    # force: same key, build ts in [probe ts - window, probe ts)
    from pyspark.sql import functions as F
    from recommendation_translation_spark.operators.joins import range_count

    window_s = 300
    uniq_p = list({(k, t) for k, t in probes})
    probe = spark.createDataFrame(
        [(i, k, t * 1_000_000) for i, (k, t) in enumerate(uniq_p)] or [(0, 0, 0)],
        "event_id long, k long, us long",
    ).withColumn("ts", F.timestamp_micros("us")).drop("us")
    build = spark.createDataFrame(
        [(k, t * 1_000_000) for k, t in builds] or [(99, 0)],
        "k long, us long",
    ).withColumn("ts", F.timestamp_micros("us")).drop("us")

    got = {
        (r.event_id, r.n_in_range)
        for r in range_count(probe, build, on="k", window_seconds=window_s).collect()
    }
    want = set()
    plist = uniq_p if uniq_p else [(0, 0)]
    blist = builds if builds else [(99, 0)]
    for i, (k, t) in enumerate(plist):
        n = sum(1 for bk, bt in blist
                if bk == k and t - window_s <= bt < t)
        want.add((i, n))
    assert got == want


@SETTINGS
@given(
    texts=st.lists(st.text(alphabet="abc d", min_size=10, max_size=40),
                   min_size=1, max_size=6),
)
def test_minhash_lsh_always_pairs_identical_docs(spark, texts):
    # identical documents share every shingle, hence every signature and
    # every band — LSH must emit their pair with jaccard exactly 1.0,
    # for any corpus contents (a deterministic recall floor, not a
    # probabilistic one)
    from recommendation_translation_spark.operators.dedup import minhash_lsh_pairs

    base = [(i, t) for i, t in enumerate(texts)]
    dup_id = 1000
    rows = base + [(dup_id, texts[0])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = texts[0].split()
    if len(set(zip(toks, toks[1:], toks[2:]))) == 0:
        return  # fewer than 3 tokens: no shingles, nothing to pair
    pairs = {(r.a_id, r.b_id): r.jaccard
             for r in minhash_lsh_pairs(df, k=8, bands=4, threshold=0.0).collect()}
    assert pairs.get((0, dup_id)) == 1.0


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s0", "s1"]),
                  st.integers(min_value=0, max_value=200),
                  st.integers(min_value=0, max_value=9)),
        min_size=0, max_size=40),
    quota=st.integers(min_value=1, max_value=8),
)
def test_source_quota_bounds_and_keeps_best(spark, rows, quota):
    from recommendation_translation_spark.operators.curation import source_quota

    uniq = {(s, i): q for s, i, q in rows}
    df = spark.createDataFrame(
        [(s, i, q) for (s, i), q in uniq.items()],
        "source string, doc_id long, q long",
    )
    kept = source_quota(df, per_source=quota, quality_col="q").collect()
    by_src: dict[str, list] = {}
    for r in kept:
        by_src.setdefault(r.source, []).append(r)
    for s, docs in by_src.items():
        assert len(docs) <= quota
        # kept set = the top-quota rows by (quality desc, id)
        all_src = sorted(
            ((q, i) for (src, i), q in uniq.items() if src == s),
            key=lambda t: (-t[0], t[1]),
        )[:quota]
        assert {(r.q, r.doc_id) for r in docs} == set(all_src)


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s0", "s1", "s2"]),
                  st.integers(min_value=0, max_value=300)),
        min_size=1, max_size=40),
)
def test_interleave_is_stable_permutation(spark, rows):
    # mix_rank is a dense 1..N permutation, and within every source the
    # mix order preserves the id order (stable round-robin)
    from recommendation_translation_spark.operators.curation import interleave_sources

    uniq = list({(s, i) for s, i in rows})
    df = spark.createDataFrame(uniq, "source string, doc_id long")
    out = sorted(
        interleave_sources(df, "source", {"s0": 3, "s1": 2}).collect(),
        key=lambda r: r.mix_rank,
    )
    assert [r.mix_rank for r in out] == list(range(1, len(uniq) + 1))
    per_src: dict[str, list[int]] = {}
    for r in out:
        per_src.setdefault(r.source, []).append(r.doc_id)
    for ids in per_src.values():
        assert ids == sorted(ids)


def test_range_partitioned_grouping_handles_null_groups(spark):
    # NULL is a group of its own, distinct from every string value, as
    # in Window.partitionBy: a string key that renders NULL as "\x00"
    # merged the NULL and "\x00" groups' partition counts
    from pyspark.sql import Window
    from recommendation_translation_spark.operators.ordering import (
        range_partitioned_row_number,
    )

    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("a", 3), (None, 4), ("b", 5)]
        + [(None if i % 2 else "\x00", 10 + i) for i in range(40)],
        "grp string, id long",
    )
    got = {
        (r.grp, r.id): r.rn
        for r in range_partitioned_row_number(
            df, [F.col("id")], "rn", group_cols=["grp"]
        ).collect()
    }
    want = {
        (r.grp, r.id): r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.partitionBy("grp").orderBy("id"))
        ).collect()
    }
    assert got == want


def test_range_partitioned_grouping_nonstring_and_empty_groups(spark):
    # Group values are compared as values, never through a string
    # rendering: a Python str() of them broke (a) empty-string groups
    # and (b) any type where Python str() != Spark CAST AS STRING —
    # booleans ("True" vs "true") being the canonical case — and a
    # separator-joined key merged groups that differ only in where the
    # separator sits.  A silent miss restarts or shifts the numbering
    # per partition.
    import datetime

    from pyspark.sql import Window
    from recommendation_translation_spark.operators.ordering import (
        range_partitioned_row_number,
    )

    cases = [
        # empty-string group value alongside normal ones
        (
            [("", i) for i in range(10)] + [("x", i) for i in range(10)],
            "grp string, id long",
        ),
        # boolean groups: str(True) == "True" but Spark casts to "true"
        (
            [(i % 2 == 0, i) for i in range(20)],
            "grp boolean, id long",
        ),
        # timestamp groups: Python datetime str() != Spark cast
        (
            [
                (datetime.datetime(2024, 1, 1 + (i % 2), 0, 0, 0), i)
                for i in range(20)
            ],
            "grp timestamp, id long",
        ),
        # two group columns whose values differ only in where a "\x1f"
        # sits: ("a\x1fb", "c") and ("a", "b\x1fc") are two groups
        (
            [
                (("a\x1fb", "c") if i % 2 else ("a", "b\x1fc")) + (i,)
                for i in range(40)
            ],
            "grp string, grp2 string, id long",
        ),
    ]
    for rows, schema in cases:
        df = spark.createDataFrame(rows, schema)
        groups = [c for c in df.columns if c != "id"]
        got = {
            tuple(r)
            for r in range_partitioned_row_number(
                df, [F.col("id")], "rn", group_cols=groups
            ).select(*df.columns, "rn").collect()
        }
        want = {
            tuple(r)
            for r in df.withColumn(
                "rn",
                F.row_number().over(Window.partitionBy(*groups).orderBy("id")),
            ).collect()
        }
        assert got == want, schema


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.text(alphabet="ab", min_size=1, max_size=2),
                  st.integers(min_value=0, max_value=40),
                  st.integers(min_value=-5, max_value=9)),
        min_size=0, max_size=60),
)
def test_range_partitioned_running_max_equals_global_window(spark, rows):
    # inclusive AND exclusive (strictly-preceding) running max must
    # equal the single-reducer global window, incl. negative values,
    # ties, and the NULL first row of the exclusive frame
    from pyspark.sql import Window
    from recommendation_translation_spark.operators.ordering import (
        range_partitioned_running_max,
    )

    uniq = {(g, i): v for g, i, v in rows}
    df = spark.createDataFrame(
        [(g, i, v) for (g, i), v in uniq.items()],
        "grp string, id long, val long",
    )
    order = [F.col("id").desc(), F.col("grp")]
    for inclusive in (True, False):
        end = Window.currentRow if inclusive else -1
        got = {
            (r.grp, r.id): r.rm
            for r in range_partitioned_running_max(
                df, order, "val", "rm", inclusive=inclusive
            ).collect()
        }
        want = {
            (r.grp, r.id): r.rm
            for r in df.withColumn(
                "rm",
                F.max("val").over(
                    Window.orderBy(*order).rowsBetween(
                        Window.unboundedPreceding, end
                    )
                ),
            ).collect()
        }
        assert got == want, f"inclusive={inclusive}"


# chains: per key, a short list of order amounts (cents).  Small cap
# forces the clamp to actually bite; chunk_size=3 forces a multi-chunk
# fold with a ragged final chunk.
capped_chains = st.lists(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=10),
    min_size=1,
    max_size=5,
)


@SETTINGS
@given(chains=capped_chains, cap=st.integers(min_value=1, max_value=80))
def test_capped_balance_walk_equals_sequential_fold(spark, chains, cap):
    # the fold over chunks (an outer aggregate() carrying the balance
    # into each chunk's inner clamp aggregate()) must equal the naive
    # per-element clamp fold — chunking only sets which balances are
    # emitted, never the semantics
    from recommendation_translation_spark.catalog.warehouse import capped_balance_walk

    rows = [
        (k, int(c), i + 1)
        for k, chain in enumerate(chains)
        for i, c in enumerate(chain)
    ]
    df = spark.createDataFrame(rows, "custkey long, cents long, rn long")
    got = {
        (r.custkey, r.chunk): r.bal_cents
        for r in capped_balance_walk(spark, df, cap=cap, chunk_size=3).collect()
    }
    want = {}
    for k, chain in enumerate(chains):
        bal = 0
        for i, c in enumerate(chain):
            bal = min(cap, bal + c)
            if (i + 1) % 3 == 0 or i + 1 == len(chain):
                want[(k, i // 3)] = bal
    assert got == want


def test_duplicate_span_stats_hand_built(spark):
    # A and B share exactly one 8-gram; C is unique; D is too short to
    # gram at all (must be absent from the output)
    from recommendation_translation_spark.operators.curation import (
        duplicate_span_stats,
    )

    common = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, f"{common} xa1 xa2"),  # 10 toks → 3 grams, 1 shared
            (2, f"{common} xb1"),      # 9 toks → 2 grams, 1 shared
            (3, "z1 z2 z3 z4 z5 z6 z7 z8"),  # 1 gram, unique
            (4, "too short"),          # < 8 tokens → no grams
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_grams, r.n_dup_grams, r.dup_ppm, r.flag_dup)
        for r in duplicate_span_stats(docs, n=8).collect()
    }
    assert got == {
        1: (3, 1, 333333, True),    # 1/3 ≥ 30%
        2: (2, 1, 500000, True),    # 1/2 ≥ 30%
        3: (1, 0, 0, False),
    }


def test_ivf_topk_multi_slices_equal_single_nprobe(spark):
    # one keep_n=max assignment + probe-rank filter must reproduce
    # ivf_topk(nprobe=n) exactly for every n in the sweep
    from recommendation_translation_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_multi,
    )
    from recommendation_translation_spark.catalog.embeddings import _queries_frame

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = _queries_frame(emb)
    multi = ivf_topk_multi(emb, q, k=5, nprobes=(1, 2, 4))
    for n in (1, 2, 4):
        got = {
            (r.query_id, r.cand_id, r.cosine, r.rk)
            for r in multi.filter(F.col("nprobe") == n).collect()
        }
        want = {
            (r.query_id, r.cand_id, r.cosine, r.rk)
            for r in ivf_topk(emb, q, k=5, nprobe=n).collect()
        }
        assert got == want, f"nprobe={n}"


def test_ivfpq_topk_multi_slice_equals_ivfpq_topk(spark):
    # the (m=4, nprobe=2) slice of the one-pass audit sweep must equal
    # the production emb_ivfpq_topk composition exactly — same coarse
    # assignment, codes, LUT folds, ranking and tie-breaks
    from recommendation_translation_spark.operators.similarity import (
        ivfpq_topk_multi,
    )
    from recommendation_translation_spark.catalog.embeddings import _queries_frame
    from recommendation_translation_spark.catalog.pq import q_emb_ivfpq_topk

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = _queries_frame(emb)
    multi = ivfpq_topk_multi(emb, q, k=5, nprobes=(1, 2, 4), ms=(4, 8))
    got = {
        (r.query_id, r.cand_id, r.adc, r.rk)
        for r in multi.filter(
            (F.col("m") == 4) & (F.col("nprobe") == 2)
        ).collect()
    }
    want = {
        (r.query_id, r.cand_id, r.adc, r.rk)
        for r in q_emb_ivfpq_topk(spark, sf_dir).collect()
    }
    assert got == want


def test_duplicate_span_removal_hand_built(spark):
    # A and B share the 8-gram "a..h": those 8 tokens vanish from BOTH
    # (span-coverage removal), the unique tails survive verbatim; C and
    # the too-short D are untouched
    import hashlib

    from recommendation_translation_spark.operators.curation import (
        duplicate_span_removal,
    )

    common = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, f"{common} xa1 xa2"),
            (2, f"{common} xb1"),
            (3, "z1 z2 z3 z4 z5 z6 z7 z8"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_kept, r.clean_md5)
        for r in duplicate_span_removal(docs, n=8).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got == {
        1: (10, 2, md5("xa1 xa2")),
        2: (9, 1, md5("xb1")),
        3: (8, 8, md5("z1 z2 z3 z4 z5 z6 z7 z8")),
        4: (2, 2, md5("too short")),
    }


def test_heavy_hitters_flag_total_at_wide_vocab(spark, tmp_path):
    # round-5 ADVICE: with >k distinct tokens the sketch reports only
    # its top-k, and tokens outside it must coalesce to TRUE — the
    # relation (and its TRUE-literal oracle) stays deterministic at any
    # vocabulary size while distinct terms <= maxItemsTracked.
    from recommendation_translation_spark.queries import QUERIES

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}w{j}" for j in range(3)), "en", "s", 1)
         for i in range(80)],  # 240 distinct tokens > k=100
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "wide")
    docs.write.parquet(f"{d}/documents.parquet")
    # satisfy the reader contract for the other tables the query ignores
    out = QUERIES["doc_heavy_hitters"](spark, d).collect()
    assert len(out) == 240
    assert all(r.sketch_count_exact for r in out)
    assert all(r.cnt == 1 for r in out)


def test_cogroup_all_null_value_group_yields_null_median(spark, tmp_path):
    # round-5 ADVICE: a user whose event values are ALL NULL must
    # produce a NULL median (nullable Int64 path), not crash the int64
    # cast; row counts still count the NULL rows, matching the
    # oracle's COUNT(*) vs NULL-skipping quantile_cont split.
    import datetime as dt

    from recommendation_translation_spark.queries import QUERIES

    d = str(tmp_path / "nulls")
    ts = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (1, ts, 1, "click", None, "{}"),
            (2, ts, 1, "click", None, "{}"),
            (3, ts, 2, "click", 4.0, "{}"),
            (4, ts, 2, "click", None, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    spark.createDataFrame(
        [(1, 3, "O", 10.0, ts, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{d}/orders.parquet")
    got = {
        r.user_id: (r.n_events, r.n_orders, r.med2_event_fp4,
                    r.med2_order_cents)
        for r in QUERIES["events_orders_cogroup"](spark, d).collect()
    }
    assert got == {
        1: (2, 0, None, None),      # all-NULL values: NULL median, not a crash
        2: (2, 0, 80000, None),     # NULL-skipping median over the one value
        3: (0, 1, None, 2000),      # order-only user
    }


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
        min_size=2,
        max_size=6,
    )
)
@SETTINGS
def test_maximal_dup_spans_equals_brute_force_and_is_maximal(spark, docs):
    # round-5 verdict #5: spans are the MAXIMAL islands of duplicated
    # n-gram coverage — equal to a brute-force merge, and no two output
    # spans overlap or abut (abutting islands would have fused).
    from recommendation_translation_spark.operators.curation import (
        maximal_dup_spans,
    )

    n = 3
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {}
    for r in maximal_dup_spans(df, n=n, min_tokens=1).collect():
        got.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for v in got.values():
        v.sort()

    # brute force: dup grams by document frequency, covered positions,
    # maximal runs
    grams_by_doc = [
        {(i, tuple(toks[i - 1:i - 1 + n])) for i in range(1, len(toks) - n + 2)}
        for toks in docs
    ]
    from collections import Counter

    dfreq = Counter()
    for g in grams_by_doc:
        for _, gram in set((None, gram) for _, gram in g):
            dfreq[gram] += 1
    want = {}
    for di, toks in enumerate(docs):
        covered = set()
        for i in range(1, len(toks) - n + 2):
            if dfreq[tuple(toks[i - 1:i - 1 + n])] >= 2:
                covered.update(range(i, i + n))
        spans = []
        for p in sorted(covered):
            if spans and p == spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], p)
            else:
                spans.append((p, p))
        if spans:
            want[di] = spans
    assert got == want
    # maximality: strictly separated by at least one uncovered token
    for spans in got.values():
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1 + 1


def test_cogroup_shard_count_is_pure_execution_key(spark):
    # round-5 verdict #8: the sharded-cogroup claim ("the shard is
    # purely an execution key", queries.q_events_orders_cogroup) pinned
    # against future edits — shard count 1, 7 and 64 must produce the
    # IDENTICAL relation at sf0.001.
    from recommendation_translation_spark.catalog.events import (
        q_events_orders_cogroup,
    )

    from .conftest import SF_SMALL

    def snapshot(n):
        return sorted(
            (r.user_id, r.n_events, r.n_orders, r.med2_event_fp4,
             r.med2_order_cents)
            for r in q_events_orders_cogroup(
                spark, SF_SMALL, _n_shards=n
            ).collect()
        )

    base = snapshot(64)
    assert len(base) > 0
    assert snapshot(1) == base
    assert snapshot(7) == base


@SETTINGS
@given(
    texts=st.lists(st.text(alphabet="abc d", min_size=10, max_size=40),
                   min_size=2, max_size=8),
    n_dups=st.integers(min_value=0, max_value=3),
)
def test_band_collision_pairs_matches_distinct_of_unions(spark, texts, n_dups):
    # first-colliding-band claiming must emit the SAME pair set as the
    # naive per-band enumeration + distinct, with each unordered pair
    # appearing exactly once (no residual duplicates to rely on a
    # downstream distinct for) — the invariant the whole rewrite of
    # minhash_lsh_pairs / simhash_pairs / incremental_dedup_flags
    # leans on.
    from pyspark.sql import functions as SF
    from recommendation_translation_spark.operators.dedup import (
        band_collision_pairs,
        minhash_bands_wide,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    # exact duplicates maximize multi-band collisions — the regime the
    # claiming exists for
    rows += [(1000 + j, texts[j % len(texts)]) for j in range(n_dups)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bands = 4
    wide = minhash_bands_wide(df, k=8, bands=bands)
    claimed = band_collision_pairs(wide, bands=bands).collect()
    got = [(r.a_id, r.b_id) for r in claimed]
    assert len(got) == len(set(got)), "claimed pairs must be unique"
    # reference: per-band self-join, distinct over the union
    stacked = wide.selectExpr(
        "doc_id",
        "stack({}, {}) AS (band, band_hash)".format(
            bands, ", ".join(f"'{b}', band_{b}" for b in range(bands))
        ),
    )
    a, b = stacked.alias("a"), stacked.alias("b")
    ref = {
        (r.a_id, r.b_id)
        for r in a.join(b, ["band", "band_hash"])
        .filter(SF.col("a.doc_id") < SF.col("b.doc_id"))
        .select(SF.col("a.doc_id").alias("a_id"), SF.col("b.doc_id").alias("b_id"))
        .distinct()
        .collect()
    }
    assert set(got) == ref


def test_pq_encode_decode_adc_identities(spark):
    """PQ invariants on a tiny synthetic corpus: (1) encoding is a
    deterministic pure projection (same codebooks -> same codes on
    re-evaluation), (2) every code entry is a valid centroid index,
    (3) the ADC per-subspace lookup equals the direct whole-vector
    decode-and-fold within float reassociation noise, and (4) a vector
    that IS a centroid in every subspace reconstructs exactly
    (ADC = 0)."""
    from recommendation_translation_spark.operators.similarity import (
        pq_adc_expr,
        pq_code_expr,
        pq_codebooks,
        pq_decode_expr,
    )

    m, k, dim = 2, 4, 8
    # 40 deterministic vectors in 8-d
    rows = [
        (i, [float(((i * 7 + j * 3) % 11) - 5) / 5.0 for j in range(dim)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codebooks, costs, sub_ss, n, sizes_ok = pq_codebooks(
        emb, m=m, k=k, dim=dim, seed=7, vec_col="embedding"
    )
    assert n == 40 and len(codebooks) == m and all(len(cb) == k for cb in codebooks)
    assert all(c >= 0 for c in costs)
    assert all(costs[s] <= sub_ss[s] + 1e-9 for s in range(m))
    assert sizes_ok == [True] * m

    coded = emb.select(
        "vec_id",
        F.col("embedding").alias("vec"),
        pq_code_expr("embedding", codebooks).alias("code"),
    )
    got1 = {r.vec_id: list(r.code) for r in coded.collect()}
    got2 = {r.vec_id: list(r.code) for r in coded.collect()}
    assert got1 == got2
    assert all(0 <= c < k for cs in got1.values() for c in cs)
    # the encode is a pure projection over literal codebooks — the 100 TB
    # posture: zero exchanges, no join, corpus scanned once
    from recommendation_translation_spark.plans.checks import count_exchanges

    assert count_exchanges(coded) == 0

    checked = coded.select(
        F.abs(
            pq_adc_expr("vec", "code", codebooks)
            - F.aggregate(
                F.zip_with(
                    F.col("vec"),
                    pq_decode_expr("code", codebooks),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("err")
    ).agg(F.max("err").alias("mx")).collect()[0]
    assert checked.mx < 1e-9

    # a concatenation of per-subspace centroids quantizes to itself
    centroid_vec = codebooks[0][1] + codebooks[1][2]
    cdf = spark.createDataFrame([(0, centroid_vec)], "vec_id long, embedding array<double>")
    r = cdf.withColumn("code", pq_code_expr("embedding", codebooks)).select(
        pq_adc_expr("embedding", "code", codebooks).alias("d")
    ).collect()[0]
    assert r.d < 1e-12


@SETTINGS
@given(
    vec=st.lists(st.floats(min_value=-2.0, max_value=2.0, allow_nan=False,
                           width=32),
                 min_size=8, max_size=8),
    code=st.lists(st.integers(min_value=0, max_value=3),
                  min_size=2, max_size=2),
)
def test_pq_lut_adc_bit_identical_to_inline(spark, vec, code):
    """The per-query ADC lookup table (pq_lut_expr + pq_adc_from_lut,
    the round-8 scoring rewrite) must equal the inline per-pair fold
    (pq_adc_expr) BIT-FOR-BIT — each LUT entry is the same _sql_l2sq_fold
    over the same elements in the same order, and the oracle SQL
    (_pq_adc_sql) mirrors that order, so any reassociation here would
    surface as a driver hash mismatch at 6dp rounding boundaries."""
    from recommendation_translation_spark.operators.similarity import (
        pq_adc_expr,
        pq_adc_from_lut,
        pq_det_codebooks,
        pq_lut_expr,
    )

    cb = pq_det_codebooks(m=2, k=4, d_sub=4)
    df = spark.createDataFrame(
        [(vec, code)], "v array<double>, code array<int>"
    )
    row = df.withColumn("lut", pq_lut_expr("v", cb)).select(
        pq_adc_expr("v", "code", cb).alias("inline"),
        pq_adc_from_lut("lut", "code", 2).alias("lut"),
    ).collect()[0]
    assert row.inline == row.lut  # exact float equality, not approx


@SETTINGS
@given(
    vec=st.lists(st.floats(min_value=-2.0, max_value=2.0, allow_nan=False),
                 min_size=4, max_size=4),
    label=st.integers(min_value=0, max_value=99),
)
def test_centroid_manifest_roundtrip_exact(vec, label):
    """The persisted-index manifests rely on Python JSON float
    round-trips being EXACT — centroids_from_manifest must rebuild
    centroid_rows' tuples bit-for-bit, or the reloaded assignment
    literals would drift from the build's and the driver hash with
    them."""
    import json

    from recommendation_translation_spark.operators.similarity import (
        centroids_from_manifest,
    )

    cents = [(label, vec, sum(x * x for x in vec) ** 0.5)]
    manifest = json.loads(json.dumps({
        "centroids": [
            {"label": lbl, "vec": v, "norm": nrm} for lbl, v, nrm in cents
        ]
    }))
    assert centroids_from_manifest(manifest) == cents


def _reference_bpe_pieces(text: str) -> int:
    """Pure-Python reference BPE: per whitespace-separated word, apply
    each merge rule in priority order as a single left-to-right
    non-overlapping pass over the token sequence (exactly `replace`
    semantics), then count residual tokens."""
    from recommendation_translation_spark.operators.text import BPE_MERGES

    total = 0
    for word in text.lower().split():
        toks = list(word)
        for pair, sym in BPE_MERGES:
            a, b = pair[0], pair[1]
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(sym)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        total += len(toks)
    return total


bpe_texts = st.lists(
    st.text(
        alphabet="theandionrestoualغ.!, \n\t",
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=6,
)


@given(texts=bpe_texts)
@SETTINGS
def test_bpe_piece_count_equals_reference_bpe(spark, texts):
    """The replace-chain BPE counter (operators.text.bpe_piece_count)
    must equal a per-word token-sequence BPE reference on arbitrary
    text — cascaded merges, punctuation pieces, unicode, and every
    whitespace flavor included.  This is the guarantee that the chain
    is real BPE over a fixed merge table, not an approximation."""
    from recommendation_translation_spark.operators.text import bpe_piece_count

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(bpe_piece_count("text")).collect()]
    want = [_reference_bpe_pieces(t) for t in texts]
    assert got == want


def test_bpe_collapse_path_equals_direct_path(spark):
    """with_bpe_piece_count(collapse=True) — chain once per DISTINCT
    text, sha2-fingerprint join-back (round-11 verdict #5) — must be
    row-for-row identical to the direct chain, including the edge
    inputs the fingerprint key has to survive: duplicated texts (the
    collapse's raison d'être), the empty string, NULL text (sentinel
    key, NULL count preserved — a plain sha2 join key would DROP those
    rows), and the literal string 'null' (must not collide with the
    NULL sentinel's group)."""
    from recommendation_translation_spark.operators.text import (
        with_bpe_piece_count,
    )

    rows = [
        (1, "the theatre reopened"),
        (2, "the theatre reopened"),   # exact duplicate
        (3, ""),                        # empty: 0 pieces, not NULL
        (4, None),                      # NULL text: NULL count
        (5, "null"),                    # must not join the NULL group
        (6, "the theatre reopened"),
        (7, "ingestion and relation"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    direct = sorted(
        map(tuple, with_bpe_piece_count(df, collapse=False).collect())
    )
    collapsed = sorted(
        map(tuple, with_bpe_piece_count(df, collapse=True).collect())
    )
    assert direct == collapsed
    by_id = {r[0]: r[2] for r in collapsed}
    assert by_id[3] == 0 and by_id[4] is None
    assert by_id[1] == by_id[2] == by_id[6]


def test_audit_sample_modulus_matches_sql_twin(tmp_path):
    """The Python footer-count modulus (ceil(n / target)) and the
    oracle's GREATEST(CEIL(COUNT(*) / target.0), 1) must agree on
    every boundary — one disagreement silently audits different
    sub-corpora in the two engines."""
    import duckdb

    from recommendation_translation_spark.catalog.dedup import _audit_sample_cte
    from recommendation_translation_spark.sources.readers import (
        AUDIT_SAMPLE_TARGET as _AUDIT_SAMPLE_TARGET,
    )

    con = duckdb.connect()
    for n in [1, 2, 100, 19999, 20000, 20001, 39999, 40000, 40001, 200000]:
        py = max(1, -(-n // _AUDIT_SAMPLE_TARGET))
        sql = con.sql(
            f"SELECT GREATEST(CAST(CEIL({n} / {_AUDIT_SAMPLE_TARGET}.0) "
            "AS BIGINT), 1)"
        ).fetchone()[0]
        assert py == sql, (n, py, sql)
    # and the CTE text actually embeds that expression
    assert f"{_AUDIT_SAMPLE_TARGET}.0" in _audit_sample_cte()


def test_sampled_audits_equal_exact_at_driver_sf(spark):
    """At driver scale factors the sample modulus is 1, so the sampled
    audits must return the EXACT audit's rows bit-for-bit — the 'hash
    gate unchanged at driver SFs' half of the round-9 #3 contract (the
    bounded-cost half is measured in SCALE.md)."""
    from recommendation_translation_spark.queries import QUERIES

    from .conftest import SF_SMALL

    exact = sorted(
        map(tuple, QUERIES["emb_ivfpq_recall_report"](spark, SF_SMALL).collect())
    )
    sampled = sorted(
        map(tuple, QUERIES["emb_ivfpq_recall_sampled"](spark, SF_SMALL).collect())
    )
    assert exact == sampled
    # the R=50 row of the sweep reproduces the exact refine report
    sweep = {
        r["r_short"]: r
        for r in QUERIES["emb_pq_refine_r_sweep"](spark, SF_SMALL).collect()
    }
    ref = QUERIES["emb_pq_refine_recall_report"](spark, SF_SMALL).collect()[0]
    assert sweep[50]["n_truth"] == ref["n_truth"]
    assert sweep[50]["n_hit_adc"] == ref["n_hit_adc"]
    assert sweep[50]["n_hit_refined"] == ref["n_hit_refined"]
    assert sweep[50]["recall_refined_at_5"] == ref["recall_refined_at_5"]
    # more R never hurts: the refined recall is monotone in R
    assert sweep[200]["n_hit_refined"] >= sweep[50]["n_hit_refined"]
    # round 11: the LSH dedup audit joins the sampled family — same
    # s=1 bit-for-bit contract at driver SFs
    lsh_exact = sorted(
        map(
            tuple,
            QUERIES["dedup_lsh_recall_report"](spark, SF_SMALL).collect(),
        )
    )
    lsh_sampled = sorted(
        map(
            tuple,
            QUERIES["dedup_lsh_recall_sampled"](spark, SF_SMALL).collect(),
        )
    )
    assert lsh_exact == lsh_sampled


def test_pack_sequences_accepts_bpe_piece_counts(spark):
    """The opt-in tokens_col wiring (round-9 verdict #7): packing by
    exact BPE piece counts must tile the PIECE stream exactly — the
    same invariants as the whitespace packing, in the unit an LLM
    pipeline actually packs in."""
    from recommendation_translation_spark.operators.curation import pack_sequences
    from recommendation_translation_spark.operators.text import bpe_piece_count

    from .conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", bpe_piece_count("text").cast("long").alias("n_bpe_pieces")
    )
    seq_len = 512
    rows = sorted(
        pack_sequences(docs, seq_len, tokens_col="n_bpe_pieces").collect(),
        key=lambda r: r.doc_id,
    )
    assert len(rows) == docs.count()
    offset = 0
    for r in rows:
        assert r.pack_id == offset // seq_len
        assert r.pack_offset == offset % seq_len
        if r.n_bpe_pieces == 0:
            assert r.n_spanned == 0
        else:
            end = offset + r.n_bpe_pieces - 1
            assert r.n_spanned == end // seq_len - offset // seq_len + 1
        offset += r.n_bpe_pieces


def test_shard_divergence_identical_and_disjoint_extremes(spark):
    # identical per-shard distributions → JSD exactly 0; two equal-mass
    # shards with disjoint vocabularies → the closed-form value of
    # JSD(shard, global-mixture), hand-computed here.  Pins both the
    # present-term sum and the absent-token closed form.
    from recommendation_translation_spark.operators.curation import (
        shard_divergence,
    )

    same = spark.createDataFrame(
        [(i, "a b c", i % 2) for i in range(8)],
        "doc_id long, text string, shard int",
    )
    for r in shard_divergence(same).collect():
        assert r["js_divergence"] == 0.0
        assert r["n_docs"] == 4 and r["n_tokens"] == 12

    disjoint = spark.createDataFrame(
        [(0, "a a", 0), (1, "b b", 1)],
        "doc_id long, text string, shard int",
    )
    # P = {x: 1}, global = {a: .5, b: .5}; m_present = .75, the absent
    # token's q folds as 0.5·ln2·q
    expected = round(
        0.5 * math.log(4 / 3)
        + 0.5 * (0.5 * math.log(2 / 3))
        + 0.5 * math.log(2) * 0.5,
        6,
    )
    for r in shard_divergence(disjoint).collect():
        assert r["js_divergence"] == expected, (r, expected)


def test_dsir_select_ranks_target_like_raw_docs_first(spark):
    # a raw document written in the target vocabulary must outscore
    # every document written in the off-target vocabulary, and target
    # membership itself must not leak into the score (scoring is
    # feature-based, not label-based)
    from recommendation_translation_spark.operators.curation import dsir_select

    rows = [(i, "alpha beta gamma delta epsilon", "s", "tgt") for i in range(5)]
    rows += [(100, "alpha beta gamma delta epsilon", "s", "raw")]
    rows += [(200 + i, "zeta eta theta iota kappa", "s", "raw") for i in range(5)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )
    out = dsir_select(
        docs, target=F.col("lang") == "tgt", n_buckets=64, k=11
    ).collect()
    scores = {r["doc_id"]: r["score"] for r in out}
    assert len(scores) == 11
    off_target_best = max(s for d, s in scores.items() if d >= 200)
    assert scores[100] > off_target_best
    # identical text ⇒ identical score regardless of the target flag
    assert scores[100] == scores[0]


def test_dsir_select_degenerate_target_sets(spark):
    # empty target set: every bucket's lr = ln(1) - ln(B) - ln(c_raw+1)
    # + ln(T+B) — still well-defined (add-one smoothing), no crash, and
    # the all-target corpus scores symmetrically; both must return
    # min(k, scored docs) rows with no NULL scores
    from recommendation_translation_spark.operators.curation import dsir_select

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "s", "raw") for i in range(6)],
        "doc_id long, text string, source string, lang string",
    )
    for predicate in (F.lit(False), F.lit(True)):
        out = dsir_select(docs, target=predicate, n_buckets=64, k=10).collect()
        assert len(out) == 6
        assert all(r["score"] is not None for r in out)


def test_hashed_gram_ops_lowercase_like_the_oracle(spark):
    # round-11 ADVICE (medium): the DuckDB oracles for corpus_dsir_select
    # and corpus_shard_divergence tokenize via _TOKS, which lowercases —
    # parity at the driver SFs held only because every test corpus is
    # all-lowercase.  Pin the Spark side to the same convention: a
    # mixed-case corpus must produce bit-identical scores / divergences /
    # top tokens to its lowercased twin.
    from recommendation_translation_spark.operators.curation import (
        dsir_select,
        shard_divergence,
    )

    texts = [
        "Alpha BETA gamma DeLtA epsilon",
        "alpha beta GAMMA delta epsilon",
        "ZETA eta Theta IOTA kappa",
        "zeta ETA theta iota KAPPA",
    ]
    rows_mixed = [
        (i, t, "s", "tgt" if i < 2 else "raw") for i, t in enumerate(texts)
    ]
    rows_lower = [
        (i, t.lower(), "s", "tgt" if i < 2 else "raw")
        for i, t in enumerate(texts)
    ]
    schema = "doc_id long, text string, source string, lang string"
    mixed = spark.createDataFrame(rows_mixed, schema)
    lower = spark.createDataFrame(rows_lower, schema)

    def score_map(df):
        out = dsir_select(df, target=F.col("lang") == "tgt",
                          n_buckets=64, k=10).collect()
        return {r["doc_id"]: r["score"] for r in out}

    assert score_map(mixed) == score_map(lower)

    def div_map(df):
        with_shard = df.withColumn("shard", (F.col("doc_id") % 2).cast("int"))
        return {
            r["shard"]: (r["js_divergence"], r["top_token"], r["n_tokens"])
            for r in shard_divergence(with_shard).collect()
        }

    dm, dl = div_map(mixed), div_map(lower)
    assert dm == dl
    # and the tokens really are the lowercased forms (not a vacuous match)
    assert all(tok == tok.lower() for _, tok, _ in dm.values())


def test_ngram_rep_edges_collapse_path_identical(spark):
    # round-11 verdict #5: the collapse-before-shingle plan must be
    # bit-identical to the direct plan — shingles are a pure function
    # of the NORMALIZED text, so two raw forms that normalize alike
    # must land in one fingerprint group, and NULL / sub-n-token texts
    # must produce no edges on either path.
    from recommendation_translation_spark.operators.dedup import (
        ngram_rep_edges,
    )

    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "pack my box with five dozen liquor jugs today",
        "a b",            # < n tokens: no shingles
        "",               # empty
        None,             # NULL text
        "  The   QUICK brown\tfox jumps over the lazy dog  ",  # normalizes to row 0
    ]
    rows = []
    for rep in range(4):  # duplication-heavy: 4 clones of every text
        rows += [(rep * 100 + i, t) for i, t in enumerate(base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def edge_set(collapse):
        return sorted(
            (r["a_id"], r["b_id"], r["jaccard"])
            for r in ngram_rep_edges(
                df, n=3, threshold=0.05, collapse_distinct=collapse
            ).collect()
        )

    direct, collapsed = edge_set(False), edge_set(True)
    assert direct == collapsed
    assert direct  # non-vacuous: the clones must actually produce edges
    flat = {i for e in direct for i in e[:2]}
    assert not any(i % 100 in (3, 4, 5) for i in flat)  # short/empty/NULL never edge


def test_dsir_collapse_path_identical(spark):
    # round-11 verdict #6: collapse=True must return exactly the same
    # selection as the direct two-pass plan — the model counts are
    # exact integers either way, and scores are pure functions of the
    # text.  Duplication-heavy corpus with mixed-case twins, NULL,
    # empty, and single-token rows.
    from recommendation_translation_spark.operators.curation import dsir_select

    texts = [
        "alpha beta gamma delta epsilon",
        "Alpha BETA gamma delta epsilon",   # distinct raw text, same grams
        "zeta eta theta iota kappa",
        "alpha beta zeta eta theta",
        "solo",                             # < 2 tokens: never scored
        "",
        None,
    ]
    rows = []
    for rep in range(5):
        rows += [
            (rep * 100 + i, t, "s", "en" if i % 2 == 0 else "xx")
            for i, t in enumerate(texts)
        ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )

    def select(collapse):
        return sorted(
            (r["doc_id"], r["source"], r["lang"], r["score"])
            for r in dsir_select(
                docs, target=F.col("lang") == "en", n_buckets=64, k=1000,
                collapse=collapse,
            ).collect()
        )

    direct, collapsed = select(False), select(True)
    assert direct == collapsed
    assert len(direct) == 20  # 4 scoreable texts x 5 reps; solo/empty/NULL dropped

    # the Gumbel-resampled twin shares the scoring core — its collapse
    # path must be identical too (noise is keyed on doc_id, applied
    # AFTER the per-distinct join-back)
    from recommendation_translation_spark.operators.curation import (
        dsir_resample,
    )

    def resample(collapse):
        return sorted(
            (r["doc_id"], r["score"], r["gumbel_key"])
            for r in dsir_resample(
                docs, target=F.col("lang") == "en", n_buckets=64, k=1000,
                collapse=collapse,
            ).collect()
        )

    r_direct, r_collapsed = resample(False), resample(True)
    assert r_direct == r_collapsed
    assert len(r_direct) == 20
    # noise actually varies per document (not a vacuous constant shift)
    assert len({round(k - s, 6) for _, s, k in r_direct}) > 1


@pytest.mark.parametrize(
    "operator",
    ["ngram_rep_edges", "ngram_jaccard_pairs", "ngram_containment_pairs"],
)
@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=999),       # doc_id
            st.sampled_from([                              # text pool: heavy overlap
                "w0 w1 w2 w3 w4 w5",
                "w0 w1 w2 w3 w4 w9",
                "w5 w6 w7 w8 w9 w0",
                "x0 x1 x2 x3",
                "w0 w1",                                   # < n tokens
                "",
                None,
            ]),
        ),
        min_size=1, max_size=30, unique_by=lambda t: t[0],
    ),
)
def test_ngram_rep_edges_collapse_identity_random(spark, operator, rows):
    # randomized pin of the fp-level collapse: arbitrary duplication
    # mixes, overlapping vocabularies, short/empty/NULL texts — the
    # collapsed and direct pair sets must be identical, values
    # included; over the rep edges and both tails of the pair audit
    # (unordered jaccard pairs, directional containment pairs)
    from recommendation_translation_spark.operators import dedup

    df = spark.createDataFrame(rows, "doc_id long, text string")

    def edges(collapse):
        return sorted(
            tuple(r)
            for r in getattr(dedup, operator)(
                df, n=3, threshold=0.2, collapse_distinct=collapse
            ).collect()
        )

    assert edges(False) == edges(True)


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=999),       # doc_id
            st.one_of(
                st.sampled_from([                          # overlapping pool
                    "w0 w1 w2 w3 w4 w5",
                    "w0 w1 w2 w3 w4 w9",
                    "w5 w6 w7 w8 w9 w0",
                    "w2 w3 w4 w5 w6",
                    "w0 w1",                               # < n tokens
                    None,
                ]),
                st.text(alphabet="ab c", max_size=30),
            ),
        ),
        min_size=2, max_size=20, unique_by=lambda t: t[0],
    ),
)
def test_candidate_verifiers_agree_with_all_pairs_jaccard(spark, rows):
    # the candidate-driven verifiers (MinHash-LSH candidates, rep-edge
    # stars) and the all-pairs audit share one overlap kernel: every
    # pair a candidate shape emits must carry exactly the jaccard the
    # all-pairs shape reports for it (uncapped, threshold 0 — each
    # emitted pair shares ≥ 1 shingle, so the audit has it too)
    from recommendation_translation_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        ngram_rep_edges,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(frame):
        return {(r.a_id, r.b_id): r.jaccard for r in frame.collect()}

    audit = pairs(ngram_jaccard_pairs(df, max_doc_freq=None, threshold=0.0))
    lsh = pairs(minhash_lsh_pairs(df, threshold=0.0))
    star = pairs(ngram_rep_edges(df, max_doc_freq=None, threshold=0.0))
    assert {k: audit.get(k) for k in lsh} == lsh
    assert {k: audit.get(k) for k in star} == star


def test_bigram_ppl_collapse_path_identical(spark):
    # third application of the multiplicity-weighted collapse: the
    # bigram-LM model counts and per-doc perplexities must be identical
    # whether computed per row or per distinct text
    from recommendation_translation_spark.catalog.text import _bigram_ppl

    texts = [
        "alpha beta gamma beta alpha",
        "Alpha beta GAMMA beta alpha",   # distinct raw, same lowered bigrams
        "beta gamma delta epsilon",
        "solo",
        "",
        None,
    ]
    rows = []
    for rep in range(4):
        rows += [(rep * 10 + i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def score(collapse):
        return sorted(
            (r["doc_id"], r["n_bigrams"], r["avg_nll"], r["ppl"])
            for r in _bigram_ppl(docs, collapse=collapse).collect()
        )

    direct, collapsed = score(False), score(True)
    assert direct == collapsed
    assert len(direct) == 12  # 3 scoreable texts x 4 reps


def test_ngram_jaccard_pairs_collapse_path_identical(spark):
    # fourth application of the distinct-text collapse (round 12): the
    # exact pairwise audit's collapsed plan must emit bit-identical
    # pairs — df-cap interplay included (the cap counts DOCUMENTS, so
    # clone multiplicity must push shingles over it identically on
    # both paths), same-content cliques at jaccard exactly 1.0, and
    # NULL/short/empty texts absent on both.
    from recommendation_translation_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "pack my box with five dozen liquor jugs now",
        "sphinx of black quartz judge my vow today ok",
        "a b",
        "",
        None,
        "  The QUICK  brown fox jumps over the lazy dog ",  # clone of 0
    ]
    rows = []
    for rep in range(4):
        rows += [(rep * 100 + i, t) for i, t in enumerate(base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(collapse, cap):
        return sorted(
            (r["a_id"], r["b_id"], r["jaccard"])
            for r in ngram_jaccard_pairs(
                df, n=3, threshold=0.05, max_doc_freq=cap,
                collapse_distinct=collapse,
            ).collect()
        )

    for cap in (None, 1000, 7):  # 7 < the 8-12 clone counts: cap bites
        direct, collapsed = pairs(False, cap), pairs(True, cap)
        assert direct == collapsed, f"cap={cap}"
    # non-vacuous: uncapped run has both cliques (j=1.0) and cross pairs
    uncapped = pairs(True, None)
    js = {j for _, _, j in uncapped}
    assert 1.0 in js and any(j < 1.0 for j in js)


def test_ccnet_range_rank_path_identical(spark):
    # round-12 verdict #3: corpus_ccnet_buckets' per-language rank goes
    # through range_partitioned_row_number above the footer dial (a
    # dominant language at 100 TB is one hot window partition) — the
    # two paths must produce identical bucket stats on the same input,
    # including a 90%-dominant language, a 1-doc language, tied ppl
    # values (doc_id tie-break), and n ≡ 1 (mod 3) group sizes
    from recommendation_translation_spark.catalog.corpus import _ccnet_bucket_stats

    rows = []
    # dominant language: 61 docs (61 % 3 == 1 — the tertile boundary
    # case), many tied ppl values
    for i in range(61):
        rows.append((i, 5 + i % 3, round(10.0 + (i % 7) * 0.5, 4), "en"))
    # mid-size language: 10 docs
    for i in range(10):
        rows.append((100 + i, 4, round(30.0 - i, 4), "de"))
    # singleton language
    rows.append((200, 2, 99.9, "yo"))
    lp = spark.createDataFrame(
        rows, "doc_id long, n_bigrams long, ppl double, lang string"
    )

    def stats(range_rank):
        return sorted(
            map(tuple, _ccnet_bucket_stats(lp, range_rank).collect())
        )

    direct, ranged = stats(False), stats(True)
    assert direct == ranged
    # non-vacuous: all three buckets materialize for the big language
    en = {b for (lang, b, *_rest) in direct if lang == "en"}
    assert en == {"head", "middle", "tail"}
    # the singleton language lands entirely in head (bidx 0)
    yo = [(b, n) for (lang, b, n, *_r) in direct if lang == "yo"]
    assert yo == [("head", 1)]


def test_collapse_dial_duplication_regimes(spark, tmp_path, monkeypatch):
    # round-12 verdict #5: the shared collapse gate keys on MEASURED
    # duplication, not just row count — a near-unique corpus above the
    # row threshold skips the collapse shuffle it cannot amortize; a
    # duplication-heavy one takes it
    from recommendation_translation_spark.sources import readers
    from recommendation_translation_spark.sources.readers import (
        _DISTINCT_FRACTION_MEMO,
        collapse_dial,
        distinct_text_fraction,
    )

    def corpus(name, texts):
        d = tmp_path / name
        d.mkdir()
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(d / "documents.parquet"))
        return str(d)

    heavy = corpus("heavy", [f"clone {i % 10}" for i in range(300)])
    unique = corpus("unique", [f"one-of-a-kind text {i}" for i in range(300)])

    # below the row threshold NOTHING is measured and the answer is
    # False at any duplication (driver/bench SFs keep direct plans)
    monkeypatch.setattr(readers, "COLLAPSE_MIN_ROWS", 1000)
    assert not collapse_dial(spark, heavy)
    assert not any(k[0].startswith(heavy) for k in _DISTINCT_FRACTION_MEMO)
    monkeypatch.setattr(readers, "COLLAPSE_MIN_ROWS", 100)
    assert collapse_dial(spark, heavy)
    assert not collapse_dial(spark, unique)
    # the measured fraction is memoized per (corpus, fingerprint):
    # repeated plan builds cost zero Spark jobs
    f1 = distinct_text_fraction(spark, heavy)
    assert 0.0 < f1 < 0.1  # ~10/300, HLL error notwithstanding
    assert any(k[0].startswith(heavy) for k in _DISTINCT_FRACTION_MEMO)
    assert distinct_text_fraction(spark, heavy) == f1


def test_ngram_containment_collapse_path_identical(spark):
    # round 13: the directional containment pairs must be bit-identical
    # between the direct and collapse-to-fingerprint plans, including
    # clone cliques (1.0 both directions), a short doc contained in a
    # long one (the asymmetric case Jaccard misses), df-capped
    # shingles, NULL/empty/short texts
    from recommendation_translation_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(40))
    short_text = " ".join(f"w{i}" for i in range(10, 18))  # ⊂ long_text
    rows = [
        (0, long_text),
        (1, short_text),
        (2, long_text),            # clone of 0
        (3, "W10 w11 W12 w13 w14 w15 w16 w17"),  # case-normalized clone of 1
        (4, "completely different text with enough words to shingle"),
        (5, None),
        (6, ""),
        (7, "two words"),          # < n tokens: no shingles
    ]
    # clone packs to exercise the df-cap and multiplicity accounting
    rows += [(100 + i, long_text) for i in range(6)]
    rows += [(200 + i, short_text) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(collapse, cap):
        return sorted(
            (r["contained_id"], r["container_id"], r["containment"])
            for r in ngram_containment_pairs(
                df, n=3, threshold=0.4, max_doc_freq=cap,
                collapse_distinct=collapse,
            ).collect()
        )

    for cap in (None, 1000, 5):  # 5 < the 8-clone pack: cap bites
        assert pairs(False, cap) == pairs(True, cap), f"cap={cap}"
    got = pairs(True, None)
    # the asymmetric case: short (1) fully contained in long (0) …
    assert (1, 0, 1.0) in got
    # … but NOT the reverse (6/38 shingles ≈ 0.157 < 0.4)
    assert not any(a == 0 and b == 1 for a, b, _ in got)
    # clone cliques appear in both directions at exactly 1.0
    assert (0, 2, 1.0) in got and (2, 0, 1.0) in got
    assert (1, 3, 1.0) in got and (3, 1, 1.0) in got


# Pure-Python references for the SQL-text expression builders of
# operators.similarity and operators.dedup.  Each does the same left
# folds in the same element order on IEEE doubles as the SQL the
# builder emits, so the pins below compare with ``==``.


def _ref_fold(terms) -> float:
    """``aggregate(…, 0.0D, (acc, x) -> acc + x)``: left fold from 0.0."""
    acc = 0.0
    for t in terms:
        acc = acc + t
    return acc


def _ref_l2sq(a, b) -> float:
    return _ref_fold((x - y) * (x - y) for x, y in zip(a, b))


def _ref_subvecs(vec, codebooks):
    d_sub = len(codebooks[0][0])
    return [vec[s * d_sub:(s + 1) * d_sub] for s in range(len(codebooks))]


def _ref_pq_code(vec, codebooks):
    # nearest centroid per subspace, the lower index winning a tie
    return [
        min(range(len(cb)), key=lambda j: (_ref_l2sq(sub, cb[j]), j))
        for sub, cb in zip(_ref_subvecs(vec, codebooks), codebooks)
    ]


def _ref_pq_lut(vec, codebooks):
    return [
        [_ref_l2sq(sub, cv) for cv in cb]
        for sub, cb in zip(_ref_subvecs(vec, codebooks), codebooks)
    ]


def _ref_pq_adc(vec, code, codebooks) -> float:
    return _ref_fold(
        _ref_l2sq(sub, cb[c])
        for sub, cb, c in zip(_ref_subvecs(vec, codebooks), codebooks, code)
    )


def _ref_pq_adc_from_lut(lut, code) -> float:
    return _ref_fold(row[c] for row, c in zip(lut, code))


def _ref_pq_decode(code, codebooks):
    return [x for cb, c in zip(codebooks, code) for x in cb[c]]


def _ref_hyperplane_bits(vec, n_bits: int, dim: int, seed: str) -> int:
    from recommendation_translation_spark.operators.similarity import (
        hyperplane_weight,
    )

    bucket = 0
    for i in range(n_bits):
        w = [hyperplane_weight(i, j, seed) for j in range(dim)]
        # zip_with pads the shorter array with NULL, which makes the
        # projection NULL and the bit 0
        if len(vec) == dim and _ref_fold(x * y for x, y in zip(vec, w)) > 0:
            bucket += 2 ** i
    return bucket


def _ref_simhash(n: int, hl, hh, bits: int) -> int:
    sig = 0
    for b in range(bits):
        src = hl if b < 32 else hh
        ones = sum(1 for h in src if (h >> (b % 32)) & 1 == 1)
        if ones * 2 > n:
            # bit 63 is the long's sign bit: its weight is −2⁶³
            sig += -(2 ** 63) if b == 63 else 2 ** b
    return sig


def _ref_vectors() -> list[list[float]]:
    import random

    rng = random.Random(11)
    rows = [
        [((i * 31 + j * 7) % 2001 - 1000) / 1000.0 for j in range(64)]
        for i in range(30)
    ]
    rows += [[rng.gauss(0.0, 0.2) for _ in range(64)] for _ in range(30)]
    return rows


def test_pq_builders_match_python_reference(spark):
    """pq_code_expr, pq_lut_expr, pq_adc_expr, pq_adc_from_lut and
    pq_decode_expr equal the pure-Python folds bit-for-bit — the
    hash-exact oracle rows (emb_pq_*, ivfpq) lean on these exact
    doubles and on the index tie-break."""
    from recommendation_translation_spark.operators import similarity as S

    cb = S.pq_det_codebooks(m=4, k=16, d_sub=16)
    cb8 = S.pq_det_codebooks(m=8, k=16, d_sub=8)
    # duplicated centroids: in every subspace centroid 15 equals
    # centroid 0 and centroid 9 equals centroid 4, so a vector built
    # from centroid 0 or 4 is at distance 0 from two centroids and the
    # index tie-break picks the code
    tie = [[*sub[:9], sub[4], *sub[10:15], sub[0]] for sub in cb]
    vecs = _ref_vectors() + [
        [x for sub in tie for x in sub[0]],
        [x for sub in tie for x in sub[4]],
    ]
    assert _ref_pq_code(vecs[-2], tie) == [0] * 4
    assert _ref_pq_code(vecs[-1], tie) == [4] * 4
    df = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, v array<double>")

    for c in (cb, cb8, tie):
        out = (
            df.withColumn("code", S.pq_code_expr("v", c))
            .withColumn("lut", S.pq_lut_expr("v", c))
            .select(
                "vec_id", "code", "lut",
                S.pq_adc_expr("v", "code", c).alias("adc"),
                S.pq_adc_from_lut("lut", "code", len(c)).alias("adc_lut"),
                S.pq_decode_expr("code", c).alias("dec"),
            )
        )
        types = {f.name: f.dataType.simpleString() for f in out.schema}
        assert types == {
            "vec_id": "bigint", "code": "array<int>",
            "lut": "array<array<double>>", "adc": "double",
            "adc_lut": "double", "dec": "array<double>",
        }
        rows = out.collect()
        assert len(rows) == len(vecs)
        for r in rows:
            v = vecs[r.vec_id]
            code = _ref_pq_code(v, c)
            lut = _ref_pq_lut(v, c)
            assert list(r.code) == code, r.vec_id
            assert [list(x) for x in r.lut] == lut, r.vec_id
            assert r.adc == _ref_pq_adc(v, code, c), r.vec_id
            assert r.adc_lut == _ref_pq_adc_from_lut(lut, code), r.vec_id
            assert list(r.dec) == _ref_pq_decode(code, c), r.vec_id


def test_hyperplane_bits_match_python_reference(spark):
    """hyperplane_bits equals the sign bits of the pure-Python
    projections onto hyperplane_weight, bit i weighted 2**i; a vector
    of the wrong length projects to NULL and gets bucket 0."""
    from recommendation_translation_spark.operators.similarity import (
        hyperplane_bits,
        hyperplane_weight,
    )

    # a fold-order probe for hyperplane 0: w[28] and w[62] have equal
    # magnitude, so the two 1e20 terms cancel exactly, and the tiny last
    # term decides the bit only when it is added after them
    w = [hyperplane_weight(0, j, "hp1") for j in range(64)]
    probe = [0.0] * 64
    probe[28] = 1e20
    probe[62] = -1e20 * w[28] / w[62]
    probe[63] = 1e-10 if w[63] > 0 else -1e-10
    terms = [x * y for x, y in zip(probe, w)]
    assert _ref_fold(terms) > 0 >= _ref_fold(reversed(terms))
    vecs = _ref_vectors() + [probe, [0.5] * 63]
    df = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, v array<double>")
    for nb in (1, 4, 12):
        out = df.select("vec_id", hyperplane_bits("v", nb, 64, seed="hp1").alias("x"))
        assert out.schema["x"].dataType.simpleString() == "bigint"
        got = {r.vec_id: r.x for r in out.collect()}
        want = {
            i: _ref_hyperplane_bits(v, nb, 64, "hp1") for i, v in enumerate(vecs)
        }
        assert got == want, nb
        assert len(set(want.values())) > 1, nb
    assert want[len(vecs) - 1] == 0


def test_simhash_fold_matches_python_vote(spark):
    """simhash's signature fold equals the pure-Python bit vote over the
    same hashed token arrays at both widths — including the −2⁶³
    weight at bit 63 and the zero-token no-row rule."""
    from recommendation_translation_spark.operators.dedup import (
        normalize_text,
        simhash,
    )
    from recommendation_translation_spark.operators.text import (
        cross_engine_hash,
        cross_engine_hash_hi,
        tokens,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text about spark optimization"),
        (4, "ALL CAPS   with   runs    of whitespace"),
        (5, "unicode tökens und ümlaute everywhere"),
        (6, "a"),
        (7, "   "),
        (8, "two words"),
        (9, "near duplicate detection with simhash signatures"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = tokens(normalize_text("text"))
    arrays = df.select(
        "doc_id",
        F.size(toks).alias("n"),
        F.transform(toks, lambda t: cross_engine_hash(t, seed="sh")).alias("hl"),
        F.transform(toks, lambda t: cross_engine_hash_hi(t, seed="sh")).alias("hh"),
    ).collect()
    for bits in (32, 64):
        got = {r.doc_id: r.simhash for r in simhash(df, bits=bits).collect()}
        want = {
            a.doc_id: _ref_simhash(a.n, a.hl, a.hh, bits)
            for a in arrays if a.n > 0
        }
        assert 7 not in want
        assert got == want, bits
    assert any(s < 0 for s in want.values())  # some signature sets bit 63


def test_minhash_sql_aggs_match_column_aggs(spark):
    """r14 (r13 verdict #2): minhash_signatures' K-M aggregate array
    and minhash_bands_wide's band digests now parse as SQL text — they
    must equal the legacy Column construction bit-for-bit (schema and
    values), same pinning discipline as the r13 builder tests."""
    from pyspark.sql import functions as F

    from recommendation_translation_spark.operators.dedup import (
        _MH_P,
        minhash_signatures,
        word_shingles,
    )
    from recommendation_translation_spark.operators.text import (
        cross_engine_hash,
        cross_engine_hash_hi,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text about spark optimization"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "unicode tökens und ümlaute everywhere in this text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k, n = 16, 3
    got = minhash_signatures(df, k=k, n=n)

    # legacy Column twin, spelled exactly as dedup.py r13 had it
    sh = word_shingles(df, n=n)
    base = sh.select(
        F.col("doc_id"),
        cross_engine_hash(F.col("shingle"), seed="mh").alias("x1"),
        cross_engine_hash_hi(F.col("shingle"), seed="mh").alias("x2"),
    )
    aggs = [
        F.min(
            (F.col("x1") + F.lit(i) * F.col("x2")) % F.lit(_MH_P)
        ).alias(f"sig_{i}")
        for i in range(k)
    ]
    want = base.groupBy("doc_id").agg(*aggs)
    assert got.schema == want.schema
    assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0

    # band digests: SQL-text wide table vs the legacy Column spelling
    from recommendation_translation_spark.operators.dedup import (
        minhash_bands_wide,
    )

    bands, rows_per = 4, 4
    got_w = minhash_bands_wide(df, k=k, bands=bands, n=n)
    band_cols = []
    for bi in range(bands):
        cols = [F.col(f"sig_{bi * rows_per + j}") for j in range(rows_per)]
        band_cols.append(
            F.xxhash64(
                F.concat_ws("_", *[c.cast("string") for c in cols])
            ).alias(f"band_{bi}")
        )
    want_w = want.select(F.col("doc_id"), *band_cols)
    assert got_w.schema == want_w.schema
    assert got_w.exceptAll(want_w).count() + want_w.exceptAll(got_w).count() == 0


def test_packed_sql_literals_match_column_literals(spark):
    """r14: centroid_rows_literal and the PQ builders' packed
    matrices parse as ONE SQL array literal; values and schemas must
    equal the F.lit(list) construction exactly, and the PQ literal must
    read back as the exact Python doubles (repr ->
    Double.parseDouble is an exact IEEE-754 round-trip)."""
    from pyspark.sql import functions as F

    from recommendation_translation_spark.operators import similarity as S

    cents = [
        (0, [0.1, -2.5e-17, 3.0], 1.23),
        (1, [1e300, -1e-300, 0.0], 4.56),
        (2, [float(i) / 7 for i in range(3)], 7.89),
    ]
    lit_df = spark.range(1).select(
        S.centroid_rows_literal(cents).alias("a"),
        F.zip_with(
            F.array(*[
                F.struct(F.lit(l).alias("l"), F.lit(nr).alias("cn"))
                for l, _v, nr in cents
            ]),
            F.lit([[float(c) for c in v] for _l, v, _n in cents]),
            lambda mc, cv: F.struct(
                mc["l"].alias("l"), cv.alias("cv"), mc["cn"].alias("cn")
            ),
        ).alias("b"),
    )
    row = lit_df.collect()[0]
    assert row["a"] == row["b"]
    ta = {f.name: f.dataType for f in lit_df.schema}
    assert ta["a"] == ta["b"]

    # the PQ builders' packed codebook literal reads back as the exact
    # Python doubles
    cb = S.pq_det_codebooks(m=2, k=4, d_sub=3)
    row = spark.range(1).select(F.expr(S._sql_mat(cb[0])).alias("a")).collect()[0]
    assert [list(r) for r in row["a"]] == cb[0]
