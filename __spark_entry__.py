"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship normalized-rank query at sf0.001;
``queries()`` maps every implemented operator (SURVEY.md §2 + the
extension surface) to a (spark, sf_dir) → DataFrame builder; and
``oracle_sql()`` gives the DuckDB-equivalent SQL for EVERY query —
since round 6 the catalog has zero rows-only entries: the ML queries
emit exact deterministic skeletons + invariant flags (training itself
still runs; its outcome is hash-checked).  The registry is
``recommendation_translation_spark.queries``; the builders and their
oracles live in the family modules of
``recommendation_translation_spark.catalog``.

Note on the ml_* invariant flags (rmse_le_2x_label_sd,
cost_le_total_ss, acc_ge_majority, auc_ge_half): these are
measured-with-margin statistical envelopes, guarded for degenerate
inputs (single-row sites, constant labels, single-class corpora flip
to vacuous TRUE).  A flag turning False on new data therefore means a
TRAINING-ENVELOPE violation (a genuinely bad fit on that
distribution), not a Spark-vs-oracle engine mismatch — triage it as a
model-quality signal, not a correctness bug.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from recommendation_translation_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: normalized per-site popularity rank (W1/W2 —
    the reference's load-bearing semantic) on /root/testdata/sf0.001."""
    return QUERIES["rank_normalized"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
