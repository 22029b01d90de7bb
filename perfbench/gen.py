"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical files.  Generation runs before any timed
region.

Translate inputs follow FIXTURES.md part A:

- A1 ``raw_data.tsv``: combined ``(id, site, title, pageviews)`` TSV with
  a leading row-index column whose header cell is empty;
- A2 ``sitelinks.tsv``: ``(id, site, title)`` TSV with a header;
- A3 ``pagecounts.txt``: space-separated ``site title pageviews`` with
  no header, where sites end in ``.z`` and extra noise rows use other
  suffixes (dropped by the reader) or ``.z`` titles with no sitelink
  (dropped by the join).

Pageviews are heavy-tailed integers with many ties; coverage falls with
the site index, so every site misses some items.

Catalog inputs mimic the TPC-H-ish testdata tables (TESTDATA.md) that
the ``catalog_heavy`` rows read, ``documents`` and ``orders``, with key
domains scaled linearly by ``sf``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Real language codes first, then a fixed two-letter enumeration, so any
# site count up to a few hundred gets distinct, stable names.
_LANGS = (
    "en de fr es it ja ru pl nl pt sv zh uk ca ar fa sr id no ko fi hu "
    "cs ro tr vi he eo da bg"
).split()


def site_names(n_sites: int) -> list[str]:
    codes = list(_LANGS)
    letters = "abcdefghijklmnopqrstuvwxyz"
    for a in letters:
        for b in letters:
            if len(codes) >= n_sites:
                break
            if a + b not in codes:
                codes.append(a + b)
    if n_sites > len(codes):
        raise ValueError(f"at most {len(codes)} sites supported")
    return [f"{c}wiki" for c in codes[:n_sites]]


def sitelink_table(seed: int, n_items: int, n_sites: int):
    """The long ``(id, site, title, pageviews)`` relation, as numpy arrays.

    Site ``i`` covers each item with probability falling from 0.9 to
    about 0.2.  Pageviews are an item popularity (Pareto) times a site
    factor times noise, floored to integers, which gives heavy tails and
    many ties at the low end.
    """
    rng = np.random.default_rng(seed)
    sites = site_names(n_sites)
    qids = np.sort(rng.choice(50 * n_items, size=n_items, replace=False)) + 1
    popularity = rng.pareto(1.2, size=n_items) + 1.0
    coverage = 0.9 / (1.0 + 3.5 * np.arange(n_sites) / max(1, n_sites - 1))
    present = rng.random((n_sites, n_items)) < coverage[:, None]
    site_factor = rng.lognormal(0.0, 1.0, size=n_sites)
    ids, site_col, titles, views = [], [], [], []
    for s, name in enumerate(sites):
        items = np.nonzero(present[s])[0]
        noise = rng.lognormal(0.0, 0.5, size=items.size)
        pv = np.floor(popularity[items] * site_factor[s] * noise * 3.0)
        ids.append(qids[items])
        site_col.extend([name] * items.size)
        titles.append(items)
        views.append(pv.astype(np.int64))
    return (
        np.concatenate(ids),
        site_col,
        np.concatenate(titles),
        np.concatenate(views),
    )


def _title(item: int) -> str:
    return f"Article_{item}"


def write_translate_inputs(out_dir: str, seed: int, n_items: int,
                           n_sites: int) -> dict[str, str]:
    """Write A1, A2 and A3 for one seed; returns name → path."""
    os.makedirs(out_dir, exist_ok=True)
    ids, sites, items, views = sitelink_table(seed, n_items, n_sites)
    rng = np.random.default_rng(seed + 7919)
    paths = {
        "raw_data": os.path.join(out_dir, "raw_data.tsv"),
        "sitelinks": os.path.join(out_dir, "sitelinks.tsv"),
        "pagecounts": os.path.join(out_dir, "pagecounts.txt"),
    }
    order = rng.permutation(ids.size)  # file order must not matter
    with open(paths["raw_data"], "w") as a1, open(paths["sitelinks"], "w") as a2:
        a1.write("\tid\tsite\ttitle\tpageviews\n")
        a2.write("id\tsite\ttitle\n")
        for row, k in enumerate(order):
            q, s, t = f"Q{ids[k]}", sites[k], _title(items[k])
            a1.write(f"{row}\t{q}\t{s}\t{t}\t{views[k]}\n")
            a2.write(f"{q}\t{s}\t{t}\n")
    with open(paths["pagecounts"], "w") as a3:
        for k in order:
            a3.write(f"{sites[k][:-4]}.z {_title(items[k])} {views[k]}\n")
        # noise: other projects of the same language, and .z titles that
        # have no sitelink
        n_noise = max(1, ids.size // 10)
        for j in range(n_noise):
            k = order[j % ids.size]
            lang = sites[k][:-4]
            suffix = ("b", "d", "zero", "q")[j % 4]
            a3.write(f"{lang}.{suffix} {_title(items[k])} {views[k] + j % 3}\n")
            a3.write(f"{lang}.z Orphan_{j} {1 + j % 5}\n")
    return paths


# --------------------------------------------------------------------------
# catalog tables

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANG_P = (("en", 0.44), ("es", 0.14), ("zh", 0.14), ("de", 0.14), ("fr", 0.14))
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    d = rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(base + d, type=pa.timestamp("us"))


def _documents(rng, sf: float) -> pa.Table:
    n = max(20, int(round(50_000 * sf)))
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near duplicate: an earlier document with a marker appended
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
            continue
        words = rng.choice(_VOCAB, size=int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    langs = rng.choice([l for l, _ in _LANG_P], size=n, p=[p for _, p in _LANG_P])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _orders(rng, sf: float) -> pa.Table:
    n = max(100, int(round(1_500_000 * sf)))
    n_cust = max(10, int(round(150_000 * sf)))
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, size=n).tolist()),
    })


CATALOG_TABLES = ("documents", "orders")


def write_catalog_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write one parquet file per catalog table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {"documents": _documents(rng, sf), "orders": _orders(rng, sf)}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
