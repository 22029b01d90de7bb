"""Long → wide feature pivot (SURVEY.md §2.4 A4/A5).

The reference groups ranked rows by id, builds a per-id
``Map[site -> (pageviews, rank)]`` and assembles Rows by hand
(FeatureExtractor.scala:80-103).  That is exactly one
``groupBy(id).pivot(site)`` in DataFrame terms — one shuffle, map-side
partial aggregation, whole-stage codegen.

Fill semantics (FeatureExtractor.scala:93-101): a missing (id, site)
pair yields ``pageviews=0.0, rank=0.0, exists=NOT_EXISTS(0.0)``;
present pairs get ``exists=EXISTS(1.0)``.

Scale note (SURVEY §7): the wide matrix has ``1 + 3·|sites|`` columns —
fine for hundreds of sites, a hazard for tens of thousands.  The long
form ``(id, site, pageviews, rank, exists)`` is the canonical store;
``pivot_features`` takes an explicit ``sites`` list so the pivot never
needs the implicit distinct-collect pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import EXISTS, NOT_EXISTS, feature_column_names

__all__ = ["pivot_features"]


def pivot_features(ranked: DataFrame, sites: list[str]) -> DataFrame:
    """Wide feature matrix: id + (pageviews_S, rank_S, exists_S) per site.

    ``sites`` must be the full sorted site list (JobRunner.scala:50 /
    FeatureExtractor.scala:51-52 discover it; callers do
    ``[r[0] for r in ranked.select("site").distinct().collect()]``).
    Passing it explicitly keeps the pivot single-pass.
    """
    sites = sorted(sites)
    pivoted = (
        ranked.groupBy("id")
        .pivot("site", sites)
        .agg(
            F.first("pageviews").alias("pageviews"),
            F.first("rank").alias("rank"),
            F.first(F.lit(EXISTS)).alias("exists"),
        )
    )
    # Spark names pivot-agg columns "<site>_<aggalias>"; the reference's
    # layout is "<metric>_<site>" (FeatureExtractor.scala:88-90).
    select = [F.col("id").cast("string").alias("id")]
    for site in sites:
        select.append(
            F.coalesce(F.col(f"`{site}_pageviews`"), F.lit(0.0)).alias(f"pageviews_{site}")
        )
        select.append(F.coalesce(F.col(f"`{site}_rank`"), F.lit(0.0)).alias(f"rank_{site}"))
        select.append(
            F.coalesce(F.col(f"`{site}_exists`"), F.lit(NOT_EXISTS)).alias(f"exists_{site}")
        )
    out = pivoted.select(*select)
    assert out.columns == feature_column_names(sites)
    return out

