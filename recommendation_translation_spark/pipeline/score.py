"""Per-site scoring + prediction assembly (ScorePredictor.scala).

The reference scores each target site into its own 2-column DataFrame and
folds them with N−1 chained full-outer joins on id
(ScorePredictor.scala:47) — N−1 shuffles.  We union the per-site results
into ONE long DataFrame and pivot instead: the same relation from a
single shuffle regardless of N (SURVEY §2.3 J2 mapping).
"""

from __future__ import annotations

import logging
from functools import reduce

from pyspark.ml.regression import RandomForestRegressionModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .assemble import get_work_data
from .train import TrainResult

log = logging.getLogger(__name__)

__all__ = ["score_items", "assemble_predictions"]


def _empty_site_scores(spark: SparkSession, site: str) -> DataFrame:
    # X2 fault isolation: the reference substitutes an empty 2-col frame so
    # the fold still works (ScorePredictor.scala:37-44).
    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField(site, T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame([], schema)


def _score_one(features: DataFrame, site: str,
               model: RandomForestRegressionModel,
               exists: bool | None = False) -> DataFrame:
    """ScorePredictor.scala:22-34: score items that do NOT exist on the
    target site (``exists=False``, the reference behavior); prediction
    column named after the site.  ``exists=None`` scores every item."""
    work = get_work_data(features, site, exists=exists)
    # the projection names the prediction after the site, so the
    # caller's model is used as given, with no per-site copy
    return model.transform(work).select(  # P5 column prune
        "id", F.col(model.getPredictionCol()).alias(site)
    )


def score_items(
    features: DataFrame,
    models: dict[str, RandomForestRegressionModel | TrainResult | None],
    exists: bool | None = False,
) -> dict[str, DataFrame]:
    """Score every target site (lazily — returns unevaluated DataFrames
    and submits no Spark job); a missing model or a failure yields the
    empty frame like the reference.  ``exists`` passes through to the
    work-data filter (False = reference behavior: only items missing on
    the target site; None = all items)."""
    spark = features.sparkSession
    scored = {}
    for site, model in models.items():
        if isinstance(model, TrainResult):
            model = model.model
        try:
            if model is None:
                raise ValueError("no model")
            scored[site] = _score_one(features, site, model, exists=exists)
        except Exception as exc:
            log.warning("scoring failed for site %s: %s", site, exc)
            scored[site] = _empty_site_scores(spark, site)
    return scored


def assemble_predictions(per_site: dict[str, DataFrame]) -> DataFrame:
    """Fold per-site score frames into (id, <site1>, <site2>, ...).

    The same relation as ScorePredictor.scala:47's N−1 outer joins, from
    one shuffle: melt to (id, site, score), then groupBy(id).pivot(site).
    """
    sites = sorted(per_site)
    long_frames = [
        df.select(
            F.col("id"),
            F.lit(site).alias("site"),
            F.col(site).cast("double").alias("score"),
        )
        for site, df in per_site.items()
    ]
    melted = reduce(DataFrame.unionByName, long_frames)
    return melted.groupBy("id").pivot("site", sites).agg(F.first("score"))
