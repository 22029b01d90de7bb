"""Per-site model training (SURVEY.md §2.11-2.12, ModelBuilder.scala).

Differences from the reference, all deliberate:

- the feature matrix is persisted by the caller (``.cache()`` in the CLI,
  ``localCheckpoint`` in the catalog) and materialized here before the
  per-site fan-out — the reference recomputes the whole feature lineage
  for every site (SURVEY §3 EP3), its biggest performance bug;
- ``randomSplit`` and the RandomForest are seeded for reproducibility
  (the reference is unseeded, ModelBuilder.scala:23);
- per-site concurrency uses a ThreadPoolExecutor over Spark actions
  (PySpark job submission is thread-safe), replacing ``sites.par`` with
  ``ForkJoinPool(8)`` (JobRunner.scala:15,51-54); each site's jobs keep
  the caller's job group;
- per-site failures are isolated and reported, not fatal
  (ModelBuilder.scala:35-37).
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.regression import RandomForestRegressor, RandomForestRegressionModel
from pyspark.sql import DataFrame

from ..session import inherit_local_properties
from .assemble import get_work_data

log = logging.getLogger(__name__)

__all__ = ["TrainResult", "build_models", "SITE_PARALLELISM"]

# JobRunner.scala:15
SITE_PARALLELISM = 8

# Utils.scala:22-24 — regressor with library-default hyperparameters
# (numTrees=20, maxDepth=5 — unchanged Spark 2.1 → 4.x); Utils.scala:25-28
# — RMSE evaluator.  We add a seed.


def _regressor(seed: int) -> RandomForestRegressor:
    return RandomForestRegressor(labelCol="label", featuresCol="features", seed=seed)


def _evaluator() -> RegressionEvaluator:
    return RegressionEvaluator(
        labelCol="label", predictionCol="prediction", metricName="rmse"
    )


@dataclass
class TrainResult:
    site: str
    model: RandomForestRegressionModel | None = None
    rmse: float | None = None
    error: str | None = None
    model_path: str | None = None


# Rows per partition for the training set.  The per-site work data is a
# filtered slice of the feature matrix, usually far smaller than the
# upstream partitioning assumes; tree training runs one job per depth
# level, so hundreds of near-empty tasks dominate wall-clock.  Sizing
# partitions by row count keeps tasks dense locally AND on a 1000-executor
# cluster (where rows//TRAIN_ROWS_PER_PARTITION is large again).
TRAIN_ROWS_PER_PARTITION = 50_000


def _train_one(features: DataFrame, site: str, seed: int, model_dir: str | None) -> TrainResult:
    """ModelBuilder.scala:18-38 for a single target site."""
    cached = get_work_data(features, site, exists=True).cache()
    try:
        n = cached.count()
        parallelism = features.sparkSession.sparkContext.defaultParallelism
        target = max(1, min(parallelism, n // TRAIN_ROWS_PER_PARTITION + 1))
        work = cached.coalesce(target)
        train, test = work.randomSplit([0.7, 0.3], seed=seed)  # ModelBuilder.scala:23, seeded
        model = _regressor(seed).fit(train)
        result = TrainResult(site=site, model=model)
        if model_dir is not None:
            path = os.path.join(model_dir, site)  # ModelBuilder.scala:29
            model.write().overwrite().save(path)
            result.model_path = path
        predictions = model.transform(test)  # ModelBuilder.scala:32
        result.rmse = _evaluator().evaluate(predictions)  # ModelBuilder.scala:33-34
        return result
    finally:
        cached.unpersist()


def build_models(
    features: DataFrame,
    sites: list[str],
    seed: int = 42,
    model_dir: str | None = None,
) -> dict[str, TrainResult]:
    """Train one RandomForest per target site, up to ``SITE_PARALLELISM``
    at a time (X1), isolating per-site failures (X2).

    Callers persist ``features`` first; this function materializes it
    once and then triggers many actions per site.
    """
    features.count()  # materialize before fan-out: concurrent per-site jobs
    # would otherwise each compute the feature lineage

    sc = features.sparkSession.sparkContext

    def run(site: str) -> TrainResult:
        # One FAIR pool per site (JobRunner.scala:51-54 intent): under
        # spark.scheduler.mode=FAIR (session.py) the 8 concurrent sites
        # round-robin executor slots instead of FIFO-queueing one
        # site's tree-depth jobs ahead of the rest.  Set on this task's
        # own copy of the local properties, so it never leaks into
        # another site.  No-op under a FIFO session.
        sc.setLocalProperty("spark.scheduler.pool", f"site-{site}")
        try:
            return _train_one(features, site, seed, model_dir)
        except Exception as exc:  # X2: log & continue (ModelBuilder.scala:35-37)
            log.warning("model build failed for site %s: %s", site, exc)
            return TrainResult(site=site, error=str(exc))

    with ThreadPoolExecutor(max_workers=SITE_PARALLELISM) as pool:
        results = list(pool.map(inherit_local_properties(sc, run), sites))
    return {r.site: r for r in results}
