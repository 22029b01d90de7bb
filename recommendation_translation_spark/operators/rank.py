"""Normalized per-site popularity rank (SURVEY.md §2.5, W1/W2).

The reference hand-rolls this on RDDs (FeatureExtractor.scala:50-75):

1. key by ``PartitionKey(site, pageviews)`` with a custom 16-partition
   ``SitePartitioner`` hashing site only (FeatureExtractor.scala:40-48),
2. ``repartitionAndSortWithinPartitions`` — secondary sort,
3. ``mapPartitions`` with a running counter emitting
   ``rank = seq / count(site)`` ∈ (0, 1], ascending by pageviews —
   the most-viewed row of a site gets rank exactly 1.0.

Semantics (correctness-critical, SURVEY §2.5): this is
``row_number() / count(*)`` per site — row_number semantics (1..n, no
gaps, ties broken arbitrarily), NOT ``percent_rank``.  The reference's
tie order is partition-iteration-dependent; we make it deterministic by
adding tie-break columns.

Scale: ``Window.partitionBy(site)`` shuffles once on site; AQE splits a
skewed site (the reference's fixed ``SitePartitioner(16)`` would hot-spot
on enwiki).  For extreme per-key cardinality (one site >> executor
memory) the same result is expressible as sort + ``zipWithIndex`` per
range partition, but window + AQE covers 100 TB in practice because rank
state is a streaming aggregate over a sorted partition — Spark's window
operator spills.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["normalized_rank"]


def normalized_rank(
    df: DataFrame,
    tiebreak_cols: tuple[str, ...] = ("id",),
) -> DataFrame:
    """rank = row_number over (site, pageviews asc, <tiebreaks>) / count(site).

    Matches FeatureExtractor.scala:59-75 with deterministic tie order.
    """
    order = [F.col("pageviews").asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w_order = Window.partitionBy("site").orderBy(*order)
    w_site = Window.partitionBy("site")
    return df.withColumn(
        "rank",
        (F.row_number().over(w_order).cast("double") / F.count("*").over(w_site)),
    )
