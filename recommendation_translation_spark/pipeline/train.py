"""Per-site model training (SURVEY.md §2.11-2.12, ModelBuilder.scala).

Differences from the reference, all deliberate:

- the feature matrix is persisted and filled by the caller (``.cache()``
  plus one action in the CLI, ``localCheckpoint`` in the catalog), so
  every site's jobs read one computed copy — the reference recomputes
  the whole feature lineage for every site (SURVEY §3 EP3), its biggest
  performance bug.  One aggregate over the ``exists_*`` columns gives
  every site's training row count; no site caches its own slice, since
  RandomForest persists its own bagged input;
- ``randomSplit`` and the RandomForest are seeded for reproducibility
  (the reference is unseeded, ModelBuilder.scala:23);
- per-site concurrency uses a ThreadPoolExecutor over Spark actions
  (PySpark job submission is thread-safe), replacing ``sites.par`` with
  ``ForkJoinPool(8)`` (JobRunner.scala:15,51-54); each site's jobs keep
  the caller's job group;
- a model is saved on the caller's background writer as soon as it is
  fitted, so the save runs beside its own evaluation and the other
  sites' training instead of ahead of them;
- per-site failures are isolated and reported, not fatal
  (ModelBuilder.scala:35-37).
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import Executor, Future, ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.regression import RandomForestRegressor, RandomForestRegressionModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import EXISTS
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
    saved: Future | None = None  # the model's save, running on the writer


# Rows per partition for the training set.  The per-site work data is a
# filtered slice of the feature matrix, usually far smaller than the
# upstream partitioning assumes; tree training runs one job per depth
# level, so hundreds of near-empty tasks dominate wall-clock.  Sizing
# partitions by row count keeps tasks dense locally AND on a 1000-executor
# cluster (where rows//TRAIN_ROWS_PER_PARTITION is large again).
TRAIN_ROWS_PER_PARTITION = 50_000


def _save_model(model: RandomForestRegressionModel, path: str) -> None:
    model.write().overwrite().save(path)  # ModelBuilder.scala:29


def _train_one(features: DataFrame, site: str, seed: int, n_rows: int,
               model_dir: str | None, writer: Executor | None) -> TrainResult:
    """ModelBuilder.scala:18-38 for a single target site with ``n_rows``
    training rows."""
    parallelism = features.sparkSession.sparkContext.defaultParallelism
    target = max(1, min(parallelism, n_rows // TRAIN_ROWS_PER_PARTITION + 1))
    work = get_work_data(features, site, exists=True).coalesce(target)
    train, test = work.randomSplit([0.7, 0.3], seed=seed)  # ModelBuilder.scala:23, seeded
    model = _regressor(seed).fit(train)
    result = TrainResult(site=site, model=model)
    if model_dir is not None:
        result.model_path = os.path.join(model_dir, site)  # ModelBuilder.scala:29
        result.saved = writer.submit(_save_model, model, result.model_path)
    predictions = model.transform(test)  # ModelBuilder.scala:32
    result.rmse = _evaluator().evaluate(predictions)  # ModelBuilder.scala:33-34
    return result


def build_models(
    features: DataFrame,
    sites: list[str],
    seed: int = 42,
    model_dir: str | None = None,
    writer: Executor | None = None,
) -> dict[str, TrainResult]:
    """Train one RandomForest per target site, up to ``SITE_PARALLELISM``
    at a time (X1), isolating per-site failures (X2).

    Callers persist ``features`` and fill it first: every site reads it
    many times.  With ``model_dir``, each site's model is saved to
    ``model_dir/<site>`` on ``writer``, which the caller joins; the
    result's ``saved`` is that save's future.
    """
    present = [s for s in sites if f"exists_{s}" in features.columns]
    # every site's training row count from one job; a site without its
    # column fails in its own chain below
    row = features.agg(*[F.count(F.when(F.col(f"exists_{s}") == EXISTS, True))
                         for s in present]).first() if present else ()
    counts = dict(zip(present, row))

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
            return _train_one(features, site, seed, counts.get(site, 0),
                              model_dir, writer)
        except Exception as exc:  # X2: log & continue (ModelBuilder.scala:35-37)
            log.warning("model build failed for site %s: %s", site, exc)
            return TrainResult(site=site, error=str(exc))

    with ThreadPoolExecutor(max_workers=SITE_PARALLELISM) as pool:
        results = list(pool.map(inherit_local_properties(sc, run), sites))
    return {r.site: r for r in results}
