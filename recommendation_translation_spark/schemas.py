"""Shared shapes of the reference data model.

The reference encodes its records as Scala case classes (Utils.scala:8-14):

- ``SitelinkEntry(id, site, title)``
- ``PagecountEntry(site, title, pageviews)``
- ``SitelinkPageviewsEntry(id, site, title, pageviews)``
- ``RankedEntry(id, site, title, pageviews, rank)``

PySpark has no typed Dataset, so the readers enforce these shapes with a
trailing ``select`` + cast (``sources.readers``).  Only the header-less
pagecounts dump needs an explicit StructType (``PAGECOUNT_SCHEMA``); the
wide feature matrix (FeatureExtractor.scala:85-91: ``id`` + 3 double
columns per sorted site) is pinned by ``feature_column_names``.
"""

from __future__ import annotations

from pyspark.sql import types as T

__all__ = [
    "PAGECOUNT_SCHEMA",
    "EXISTS",
    "NOT_EXISTS",
    "feature_column_names",
]

# Utils.scala:20-21 — the exists-flag constants.
EXISTS = 1.0
NOT_EXISTS = 0.0

PAGECOUNT_SCHEMA = T.StructType(
    [
        T.StructField("site", T.StringType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("pageviews", T.DoubleType(), False),
    ]
)


def feature_column_names(sites: list[str]) -> list[str]:
    """Column order of the wide feature matrix.

    Mirrors FeatureExtractor.scala:85-91: ``id`` then, for each site in
    sorted order, ``pageviews_<site>``, ``rank_<site>``, ``exists_<site>``.
    """
    cols = ["id"]
    for site in sorted(sites):
        cols += [f"pageviews_{site}", f"rank_{site}", f"exists_{site}"]
    return cols
