"""Stage-gated CLI — the reference's orchestration surface (SURVEY.md
§2.12 X3; ArgParser.scala + JobRunner.scala re-expressed).

Four independently toggleable stages, each of which either computes its
input from the previous stage in-process or loads it from a prior run's
parquet artifact (ArgParser.scala:19-22, DataGatherer.scala:14-25,
FeatureExtractor.scala:21-31):

    parse-raw-data  →  extract-features  →  build-models  →  score-items

``check_config`` mirrors ArgParser.scala:132-144's cross-validation of
stage/input combinations: every enabled stage must have exactly one
source for its input (either the upstream stage is enabled, or the
matching ``--*-parquet``/``--model-dir`` points at a prior artifact),
and raw inputs are only meaningful when the consuming stage runs.

Artifacts land in a timestamped run directory (JobRunner.scala:31:
``<output-dir>/<yyyy-MM-dd_HH_mm_ss>/{parsed-data,feature-data,models,
predictions}``) with ``errorifexists`` semantics, so re-runs never
clobber.  No stage reads back what an earlier stage of the same run
wrote, so ``run`` writes the artifacts in the background while the
next stage computes.
"""

from __future__ import annotations

import argparse
import logging
import os
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from .session import inherit_local_properties

log = logging.getLogger(__name__)

__all__ = ["Params", "build_parser", "check_config", "run", "main"]

#: The largest raw input, in bytes over its files, whose job compiles
#: with C1 only (``session.c1_only``).  perfbench translate inputs of 4
#: sites, 4-core host, ``job_s`` against the same code with C2: 2,000
#: items (0.12 MB) -13 %, 10,000 (0.63 MB) -9 %, 30,000 (2.0 MB) and
#: 50,000 (3.4 MB) -3 %, 100,000 (6.9 MB) +21 %.  In a local-mode
#: driver the tasks run in this JVM, and a longer job's hot loops
#: repay C2.
C1_ONLY_MAX_INPUT_BYTES = 1 << 20

#: Threads of the background artifact writer.  The sites' fits tend to
#: finish together, so their model saves, a handful of one-task jobs
#: each, run side by side.
WRITER_THREADS = 4


@dataclass
class Params:
    """Mirror of the reference's scopt ``Params`` (ArgParser.scala:8-31)."""

    # stage toggles (ArgParser.scala:19-22)
    parse_raw_data: bool = False
    extract_features: bool = False
    build_models: bool = False
    score_items: bool = False
    # raw inputs (ArgParser.scala:49-74)
    raw_sitelinks: str | None = None
    raw_pagecounts: str | None = None
    raw_data: str | None = None
    # prior-run artifacts (ArgParser.scala:76-96)
    parsed_data: str | None = None
    feature_data: str | None = None
    model_dir: str | None = None
    # output + targeting (ArgParser.scala:98-118)
    output_dir: str | None = None
    target_wikis: list[str] = field(default_factory=list)
    seed: int = 42


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="recommendation-translation-spark",
        description=(
            "Ranks items missing in languages by how much they would be "
            "read (ArgParser.scala:26), rebuilt PySpark-first."
        ),
    )
    p.add_argument("--parse-raw-data", action="store_true")
    p.add_argument("--extract-features", action="store_true")
    p.add_argument("--build-models", action="store_true")
    p.add_argument("--score-items", action="store_true")
    p.add_argument("--raw-sitelinks", help="sitelinks TSV (S1)")
    p.add_argument("--raw-pagecounts", help="pagecounts dump (S3)")
    p.add_argument("--raw-data", help="combined (id,site,title,pageviews) TSV (S2)")
    p.add_argument("--parsed-data", help="parquet from a prior --parse-raw-data run (S6)")
    p.add_argument("--feature-data", help="parquet from a prior --extract-features run (S7)")
    p.add_argument("--model-dir", help="models from a prior --build-models run (S9)")
    p.add_argument("--output-dir", help="root for the timestamped run dir")
    p.add_argument(
        "--target-wikis",
        default="",
        help="space/comma-separated site whitelist (default: all observed)",
    )
    p.add_argument("--seed", type=int, default=42)
    return p


def params_from_args(argv: list[str]) -> Params:
    ns = build_parser().parse_args(argv)
    ns.target_wikis = ns.target_wikis.replace(",", " ").split()
    return Params(**vars(ns))


def check_config(p: Params) -> list[str]:
    """Cross-validate stage/input combinations (ArgParser.scala:132-144).

    Returns a list of error strings; empty means valid.
    """
    errors: list[str] = []
    any_stage = p.parse_raw_data or p.extract_features or p.build_models or p.score_items
    if not any_stage:
        errors.append("no stage enabled: pass at least one of --parse-raw-data/"
                      "--extract-features/--build-models/--score-items")

    if p.parse_raw_data:
        has_split = p.raw_sitelinks and p.raw_pagecounts
        if not (p.raw_data or has_split):
            errors.append("--parse-raw-data needs --raw-data OR both "
                          "--raw-sitelinks and --raw-pagecounts")
        if p.raw_data and has_split:
            errors.append("--raw-data and --raw-sitelinks/--raw-pagecounts "
                          "are mutually exclusive")
        if p.parsed_data:
            errors.append("--parsed-data conflicts with --parse-raw-data "
                          "(the stage would recompute it)")
    elif p.raw_data or p.raw_sitelinks or p.raw_pagecounts:
        errors.append("raw inputs given but --parse-raw-data not enabled")

    if p.extract_features:
        if not (p.parse_raw_data or p.parsed_data):
            errors.append("--extract-features needs --parse-raw-data or --parsed-data")
        if p.feature_data:
            errors.append("--feature-data conflicts with --extract-features")
    needs_features = p.build_models or p.score_items
    if needs_features and not (p.extract_features or p.feature_data):
        errors.append("--build-models/--score-items need --extract-features "
                      "or --feature-data")

    if p.score_items and not (p.build_models or p.model_dir):
        errors.append("--score-items needs --build-models or --model-dir")
    if p.model_dir and p.build_models:
        errors.append("--model-dir conflicts with --build-models")

    writes = p.parse_raw_data or p.extract_features or p.build_models or p.score_items
    if writes and not p.output_dir:
        errors.append("--output-dir is required")
    return errors


def _run_dir(p: Params) -> str:
    # JobRunner.scala:31 — timestamped run dir.
    stamp = datetime.now().strftime("%Y-%m-%d_%H_%M_%S")
    path = os.path.join(p.output_dir, stamp)
    os.makedirs(path, exist_ok=False)
    return path


def _join_model_saves(models: dict) -> bool:
    """Wait for every site's model save and log each site's outcome.  A
    site whose model failed to save becomes a failed site, without a
    model.  Returns whether any save failed."""
    failed = False
    for site, r in sorted(models.items()):
        save_error = r.saved and r.saved.exception()
        if save_error:
            r.model = r.model_path = None
            r.error = f"model save failed: {save_error}"
            failed = True
        if r.error:
            log.warning("site %s failed: %s", site, r.error)
        else:
            log.info("site %s rmse=%.6f", site, r.rmse)
    return failed


def run(spark: SparkSession, p: Params) -> dict[str, str]:
    """Execute the enabled stages; returns artifact name → path.

    Mirrors JobRunner.scala:37-73's gating, with the rebuild's fixes:
    the feature matrix is computed once into a cache that every consumer
    reads (released when the run ends), the prediction fold is the single-shuffle union+pivot, and
    everything stays in the DataFrame API.

    Nothing later in a run reads its own artifacts back, so the parsed
    data, the feature matrix and each site's model are written on a
    small background writer while the next stage computes from the
    in-memory frame.  The writer's jobs carry the caller's job group.
    Every write is joined before this returns: a failed parquet write
    fails the run, and a site whose model fails to save is reported as
    failed and scores as an empty column (X2, ScorePredictor.scala:37-44).
    """
    from .operators.features import pivot_features
    from .operators.rank import normalized_rank
    from .pipeline.score import assemble_predictions, score_items
    from .pipeline.train import build_models
    from .sources.readers import (
        read_features_parquet,
        read_pagecounts,
        read_parsed_parquet,
        read_raw_data_tsv,
        read_sitelinks_tsv,
    )
    from .sources.writers import write_parquet, write_predictions_csv

    errors = check_config(p)
    if errors:
        raise ValueError("; ".join(errors))

    out = _run_dir(p)
    artifacts: dict[str, str] = {"run_dir": out}
    # each writer thread starts with this thread's local properties
    keep_job_group = inherit_local_properties(spark.sparkContext, lambda: None)
    features: DataFrame | None = None
    try:
        with ThreadPoolExecutor(WRITER_THREADS, initializer=keep_job_group) as writer:
            writes: list[Future] = []

            parsed: DataFrame | None = None
            if p.parse_raw_data:  # EP1 (DataGatherer.scala:13-61)
                if p.raw_data:
                    parsed = read_raw_data_tsv(spark, p.raw_data)
                else:
                    sitelinks = read_sitelinks_tsv(spark, p.raw_sitelinks)
                    pagecounts = read_pagecounts(spark, p.raw_pagecounts)
                    parsed = sitelinks.join(pagecounts, ["site", "title"], "inner").select(
                        "id", "site", "title", "pageviews"
                    )
                path = os.path.join(out, "parsed-data")
                writes.append(writer.submit(write_parquet, parsed, path))
                artifacts["parsed_data"] = path
            elif p.parsed_data:
                parsed = read_parsed_parquet(spark, p.parsed_data)

            sites: list[str] = []
            if p.extract_features:  # EP2, as window + pivot
                ranked = normalized_rank(parsed, tiebreak_cols=("id", "title"))
                sites = sorted(r[0] for r in parsed.select("site").distinct().collect())
                features = pivot_features(
                    ranked.select("id", "site", "pageviews", "rank"), sites
                ).cache()
                features.count()  # the one computation of the matrix, before any reader
                path = os.path.join(out, "feature-data")
                writes.append(writer.submit(write_parquet, features, path))
                artifacts["feature_data"] = path
            elif p.feature_data:
                # one cached copy feeds every per-site training and scoring job
                features = read_features_parquet(spark, p.feature_data).cache()
                sites = sorted(c[len("exists_"):] for c in features.columns
                               if c.startswith("exists_"))

            targets = p.target_wikis or sites  # JobRunner.scala:47-50
            models = None
            if p.build_models:
                model_dir = os.path.join(out, "models")
                models = build_models(features, targets, seed=p.seed,
                                      model_dir=model_dir, writer=writer)
                artifacts["model_dir"] = model_dir
            elif p.model_dir:
                from pyspark.ml.regression import RandomForestRegressionModel

                models = {}
                for site in targets:
                    path = os.path.join(p.model_dir, site)
                    try:
                        models[site] = RandomForestRegressionModel.load(path)  # S9
                    except Exception as exc:
                        # X2: scored as an empty column (ScorePredictor.scala:37-44)
                        log.warning("no model for site %s: %s", site, exc)
                        models[site] = None

            if p.score_items:  # EP3 scorer: lazy plans, built while the saves finish
                predictions = assemble_predictions(score_items(features, models))
            if p.build_models and _join_model_saves(models) and p.score_items:
                # X2: a site whose model failed to save scores as an empty column
                predictions = assemble_predictions(score_items(features, models))
            if p.score_items:
                path = os.path.join(out, "predictions")
                write_predictions_csv(predictions, path)
                artifacts["predictions"] = path

            for w in writes:
                w.result()  # a failed parquet write fails the run
    finally:
        # the matrix is this run's alone: left cached, a later run over
        # an input rewritten at the same path would match its plan and
        # read this run's rows
        if features is not None:
            features.unpersist()
    return artifacts


def _short_job(p: Params) -> bool:
    """Whether the run parses raw input files of at most
    ``C1_ONLY_MAX_INPUT_BYTES`` between them.  A run that starts from
    earlier artifacts, or names an input that is not a local file, is
    not known to be short."""
    if not p.parse_raw_data:
        return False
    paths = [x for x in (p.raw_data, p.raw_sitelinks, p.raw_pagecounts) if x]
    if not all(os.path.isfile(x) for x in paths):
        return False
    return sum(os.path.getsize(x) for x in paths) <= C1_ONLY_MAX_INPUT_BYTES


def main(argv: list[str] | None = None) -> int:
    import contextlib
    import sys

    from .session import c1_only, get_spark

    p = params_from_args(sys.argv[1:] if argv is None else argv)
    errors = check_config(p)
    if errors:
        for e in errors:
            print(f"error: {e}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="recommendation-translation")
    # the entry point runs one job per driver, as spark-submit runs it:
    # a short job's JIT costs more than C2 code would save
    with c1_only(spark) if _short_job(p) else contextlib.nullcontext():
        artifacts = run(spark, p)
    for k, v in artifacts.items():
        print(f"{k}: {v}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
