"""End-to-end pipeline + stage-gating tests (SURVEY.md §5).

Generates a lite-sitelinks-pagecounts-shaped fixture (FIXTURES.md A1-A3)
and runs the full CLI pipeline: parse → features → train → score → CSV,
asserting the §5 property invariants:

- rank ∈ (0, 1], exactly one max-rank row per site;
- exists ∈ {0.0, 1.0}; absent (id, site) pairs fill (0.0, 0.0, 0.0);
- feature width == 1 + 3·|sites|;
- prediction fold preserves the union of scored ids.

``check_config`` combinations mirror ArgParser.scala:132-144.
"""

from __future__ import annotations

import csv
import glob
import bz2
import os
import random

import pytest

from recommendation_translation_spark.cli import (
    C1_ONLY_MAX_INPUT_BYTES,
    Params,
    _short_job,
    check_config,
    run,
)

# ---------------------------------------------------------------------------
# fixture generation (FIXTURES.md A1-A3 invariants)
# ---------------------------------------------------------------------------

SITES = ["dewiki", "enwiki", "eswiki", "frwiki"]
N_IDS = 24


def _gen_rows():
    rng = random.Random(7)
    rows = []
    for i in range(N_IDS):
        qid = f"Q{100 + i}"
        title = f"Article_{i}"
        for site in SITES:
            # holes: each site misses a deterministic ~1/4 of ids
            if (i + SITES.index(site)) % 4 == 0:
                continue
            pv = float(rng.randint(1, 500))
            rows.append((qid, site, title, pv))
    return rows


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("lite")
    rows = _gen_rows()
    # A1: combined raw-data TSV with a leading unnamed index column
    with open(d / "raw.tsv", "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(["", "id", "site", "title", "pageviews"])
        for i, (qid, site, title, pv) in enumerate(rows):
            w.writerow([i, qid, site, title, pv])
    # A2: sitelinks TSV
    with open(d / "sitelinks.tsv", "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(["id", "site", "title"])
        for qid, site, title, _pv in rows:
            w.writerow([qid, site, title])
    # A3: pagecounts dump — no header, space-sep, sites end in .z,
    # plus noise rows that must be dropped by the .z filter
    with open(d / "pagecounts", "w") as f:
        for _qid, site, title, pv in rows:
            f.write(f"{site[:-4]}.z {title} {pv}\n")
        f.write("commons.m Some_File 99.0\n")
        f.write("en.mw Another 12.0\n")
    return d


# ---------------------------------------------------------------------------
# check_config (X3 — ArgParser.scala:132-144)
# ---------------------------------------------------------------------------


def test_check_config_rejects_empty():
    assert check_config(Params())


def test_check_config_parse_needs_input():
    assert check_config(Params(parse_raw_data=True, output_dir="/tmp/x"))


def test_check_config_raw_inputs_exclusive():
    p = Params(parse_raw_data=True, raw_data="a", raw_sitelinks="b",
               raw_pagecounts="c", output_dir="/tmp/x")
    assert any("mutually exclusive" in e for e in check_config(p))


def test_check_config_features_need_parsed():
    assert check_config(Params(extract_features=True, output_dir="/tmp/x"))


def test_check_config_score_needs_models():
    p = Params(score_items=True, feature_data="f", output_dir="/tmp/x")
    assert any("--build-models or --model-dir" in e for e in check_config(p))


def test_check_config_stage_conflicts_with_artifact():
    p = Params(parse_raw_data=True, raw_data="a", parsed_data="p", output_dir="/tmp/x")
    assert any("conflicts" in e for e in check_config(p))


def test_check_config_valid_full_pipeline():
    p = Params(parse_raw_data=True, extract_features=True, build_models=True,
               score_items=True, raw_data="a", output_dir="/tmp/x")
    assert check_config(p) == []


def test_check_config_valid_resume_from_features():
    p = Params(build_models=True, score_items=True, feature_data="f",
               output_dir="/tmp/x")
    assert check_config(p) == []


# ---------------------------------------------------------------------------
# end-to-end pipeline (EP1→EP2→EP3)
# ---------------------------------------------------------------------------


def _full_params(fixture_dir, out) -> Params:
    return Params(
        parse_raw_data=True,
        extract_features=True,
        build_models=True,
        score_items=True,
        raw_data=str(fixture_dir / "raw.tsv"),
        output_dir=str(out),
        seed=42,
    )


def _read_predictions(artifacts) -> list[dict]:
    (path,) = glob.glob(os.path.join(artifacts["predictions"], "*.csv.bz2"))
    with bz2.open(path, "rt") as f:
        return list(csv.DictReader(f))


#: Spark jobs the first full run over the fixture submits: the reads, one
#: pivot pass into the feature cache, the per-site training rounds, the
#: background writes and the CSV write.  A second pass over the pivot
#: lineage or one count job per site would exceed it (the run submitted
#: 82 jobs when it had both).
FULL_RUN_JOB_BUDGET = 70


@pytest.fixture(scope="module")
def full_run_jobs(spark, fixture_dir, tmp_path_factory):
    """The full pipeline run under a job group: its artifacts, the jobs
    of its group, and the jobs it ran outside any group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("cli_full_run", "full cli.run")
    try:
        artifacts = run(spark, _full_params(fixture_dir, tmp_path_factory.mktemp("run")))
    finally:
        sc.setJobGroup(None, None)
    grouped = tracker.getJobIdsForGroup("cli_full_run")
    return artifacts, grouped, set(tracker.getJobIdsForGroup()) - before


@pytest.fixture(scope="module")
def full_run(full_run_jobs):
    return full_run_jobs[0]


def test_artifacts_exist(full_run):
    for key in ("parsed_data", "feature_data", "model_dir", "predictions"):
        assert key in full_run and os.path.exists(full_run[key]), key


def test_parsed_matches_fixture(spark, full_run):
    parsed = spark.read.parquet(full_run["parsed_data"])
    rows = _gen_rows()
    assert parsed.count() == len(rows)
    assert set(parsed.columns) == {"id", "site", "title", "pageviews"}


def test_feature_invariants(spark, full_run):
    feats = spark.read.parquet(full_run["feature_data"])
    # width == 1 + 3·|sites|
    assert len(feats.columns) == 1 + 3 * len(SITES)
    pdf = feats.toPandas().set_index("id")
    rows = _gen_rows()
    present = {(q, s) for q, s, _t, _pv in rows}
    per_site = {}
    for site in SITES:
        ranks, exists = pdf[f"rank_{site}"], pdf[f"exists_{site}"]
        assert set(exists.unique()) <= {0.0, 1.0}
        on = exists == 1.0
        # rank ∈ (0,1] where present; all-zero triple where absent
        assert ((ranks[on] > 0) & (ranks[on] <= 1.0)).all()
        assert (ranks[~on] == 0.0).all()
        assert (pdf[f"pageviews_{site}"][~on] == 0.0).all()
        # exactly one row per site carries the max rank 1.0
        assert (ranks[on] == 1.0).sum() == 1
        per_site[site] = {qid for qid in pdf.index[on]}
        assert per_site[site] == {q for q, s in present if s == site}


def test_predictions_shape(full_run):
    files = glob.glob(os.path.join(full_run["predictions"], "*.csv.bz2"))
    assert len(files) == 1, "coalesce(1) must yield a single csv file"
    with bz2.open(files[0], "rt") as f:
        reader = csv.reader(f)
        header = next(reader)
        body = list(reader)
    assert header == ["id"] + SITES
    # every scored id appears exactly once, and at least one site has
    # missing items to score (fixture guarantees holes)
    ids = [r[0] for r in body]
    assert len(ids) == len(set(ids)) and len(ids) > 0


def test_full_run_jobs_carry_callers_job_group(full_run_jobs):
    """Every job of a full run carries the caller's job group, the
    background parquet writes and model saves included, and the run
    stays within its job budget."""
    artifacts, grouped, ungrouped = full_run_jobs
    assert ungrouped == set()
    assert len(grouped) <= FULL_RUN_JOB_BUDGET, len(grouped)
    # the saves ran on the writer: every site's model is complete
    for site in SITES:
        assert os.path.isdir(os.path.join(artifacts["model_dir"], site, "metadata"))


def test_failed_parquet_write_fails_the_run(spark, fixture_dir, tmp_path, monkeypatch):
    """A parquet artifact is written in the background, but a failed
    write still fails the run."""
    from recommendation_translation_spark.sources import writers

    def broken(df, path, *args, **kwargs):
        raise OSError(f"cannot write {os.path.basename(path)}")

    monkeypatch.setattr(writers, "write_parquet", broken)
    p = Params(parse_raw_data=True, extract_features=True,
               raw_data=str(fixture_dir / "raw.tsv"), output_dir=str(tmp_path))
    with pytest.raises(OSError, match="cannot write parsed-data"):
        run(spark, p)


def test_failed_model_save_leaves_that_sites_column_empty(
    spark, fixture_dir, full_run, tmp_path, monkeypatch, caplog
):
    """X2 (ScorePredictor.scala:37-44): a site whose model fails to save
    is logged as failed and keeps its predictions column, all empty; the
    other sites' scores are those of a run where every save succeeded."""
    import logging

    from recommendation_translation_spark.pipeline import train

    save = train._save_model

    def flaky(model, path):
        if os.path.basename(path) == "frwiki":
            raise OSError("model store unavailable")
        save(model, path)

    monkeypatch.setattr(train, "_save_model", flaky)
    with caplog.at_level(logging.WARNING):
        artifacts = run(spark, _full_params(fixture_dir, tmp_path))
    assert "frwiki" in caplog.text and "model store unavailable" in caplog.text
    rows, reference = _read_predictions(artifacts), _read_predictions(full_run)
    assert list(rows[0]) == ["id"] + SITES
    assert all(r["frwiki"] == "" for r in rows)
    for site in ("dewiki", "enwiki", "eswiki"):
        got = {r["id"]: r[site] for r in rows if r[site] != ""}
        assert got and got == {r["id"]: r[site] for r in reference if r[site] != ""}, site


def test_resume_from_artifacts(spark, full_run, tmp_path_factory):
    """X3: a second run can resume from the first run's parquet + models."""
    out = tmp_path_factory.mktemp("resume")
    p = Params(
        score_items=True,
        feature_data=full_run["feature_data"],
        model_dir=full_run["model_dir"],
        output_dir=str(out),
        target_wikis=SITES,
    )
    artifacts = run(spark, p)
    files = glob.glob(os.path.join(artifacts["predictions"], "*.csv.bz2"))
    assert len(files) == 1


def test_resume_with_missing_model_keeps_empty_site_column(
    spark, full_run, tmp_path_factory
):
    """X2 fault isolation (ScorePredictor.scala:37-44): resume-scoring a
    target site whose model is missing still writes that site's column,
    all empty, next to the sites that did score."""
    import shutil

    models = tmp_path_factory.mktemp("partial") / "models"
    shutil.copytree(full_run["model_dir"], models)
    shutil.rmtree(models / "frwiki")
    p = Params(
        score_items=True,
        feature_data=full_run["feature_data"],
        model_dir=str(models),
        output_dir=str(tmp_path_factory.mktemp("resume_partial")),
        target_wikis=SITES,
    )
    rows = _read_predictions(run(spark, p))
    assert list(rows[0]) == ["id"] + SITES
    assert all(r["frwiki"] == "" for r in rows)
    for site in ("dewiki", "enwiki", "eswiki"):
        assert any(r[site] != "" for r in rows), site


def test_score_and_assemble_submit_no_job(spark, full_run):
    """Scoring only builds plans: ``score_items`` + ``assemble_predictions``
    run no Spark action, so the CSV writer is the first job of the
    scoring stage (and there is nothing for a thread pool to overlap)."""
    from pyspark.ml.regression import RandomForestRegressionModel

    from recommendation_translation_spark.pipeline.score import (
        assemble_predictions,
        score_items,
    )

    feats = spark.read.parquet(full_run["feature_data"])
    models = {
        s: RandomForestRegressionModel.load(os.path.join(full_run["model_dir"], s))
        for s in ("dewiki", "enwiki")
    }
    models["frwiki"] = None
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("score_no_job_probe", "score_items + assemble_predictions")
    try:
        predictions = assemble_predictions(score_items(feats, models))
    finally:
        sc.setJobGroup(None, None)
    assert tracker.getJobIdsForGroup("score_no_job_probe") == []
    assert set(tracker.getJobIdsForGroup()) <= before
    assert predictions.columns == ["id", "dewiki", "enwiki", "frwiki"]


def test_build_models_jobs_keep_callers_job_group(spark):
    """Training runs on a thread pool; every job it submits must still
    carry the caller's job group, and one site's scheduler pool must
    not leak back into the caller's thread."""
    from recommendation_translation_spark.pipeline.train import build_models

    rng = random.Random(3)
    rows = []
    for i in range(40):
        ea, eb = float(i % 4 != 0), float(i % 3 != 0)
        rows.append((f"Q{i}", rng.random() * ea, rng.random() * ea, ea,
                     rng.random() * eb, rng.random() * eb, eb))
    feats = spark.createDataFrame(
        rows,
        "id string, pageviews_a double, rank_a double, exists_a double, "
        "pageviews_b double, rank_b double, exists_b double",
    ).cache()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("build_models_probe", "two-site training")
    try:
        results = build_models(feats, ["a", "b"], seed=1)
    finally:
        sc.setJobGroup(None, None)
        feats.unpersist()
    assert all(r.error is None for r in results.values()), results
    # the row-count aggregate plus at least one fit and one evaluation
    # per site; none of them may fall outside the group
    assert len(tracker.getJobIdsForGroup("build_models_probe")) > 4
    assert set(tracker.getJobIdsForGroup()) <= before
    assert sc.getLocalProperty("spark.scheduler.pool") is None


def test_failed_site_is_isolated_and_caches_nothing(spark):
    """A site whose training rows raise at execution is reported as
    failed with its error while the other site trains, and
    ``build_models`` leaves the cache manager as it found it: no site
    caches its own training slice."""
    from pyspark.sql import functions as F

    from recommendation_translation_spark.pipeline.train import build_models

    feats = spark.range(12).select(
        F.concat(F.lit("Q"), F.col("id").cast("string")).alias("id"),
        F.col("id").cast("double").alias("pageviews_a"),
        (F.col("id") / 12.0).alias("rank_a"),
        F.lit(1.0).alias("exists_a"),
        # a feature of site a's training set only: the row-count
        # aggregate and site b's training prune it
        F.when(F.col("id") >= 0, F.raise_error(F.lit("bad feature")))
        .cast("double").alias("pageviews_b"),
        ((12 - F.col("id")) / 12.0).alias("rank_b"),
        F.lit(1.0).alias("exists_b"),
    )
    spark.catalog.clearCache()
    results = build_models(feats, ["a", "b"], seed=1)
    assert results["a"].error and "bad feature" in results["a"].error
    assert results["b"].error is None and results["b"].model is not None
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


#: py4j round trips one forest fit may make.  A fit that wraps its 20
#: trees eagerly, as PySpark's own model class does when it lists its
#: params, made about 1,300; one that does not, about 140.
FIT_PY4J_CEILING = 500


def test_fit_wraps_no_tree_until_asked(spark, tmp_path, monkeypatch):
    """A fitted forest wraps its trees only when ``trees`` is read, and
    saves as PySpark's own model class loads."""
    import threading

    from py4j.java_gateway import GatewayClient
    from py4j.protocol import MEMORY_COMMAND_NAME
    from pyspark.ml.linalg import Vectors
    from pyspark.ml.regression import RandomForestRegressionModel

    from recommendation_translation_spark.pipeline.train import _regressor

    rng = random.Random(5)
    train = spark.createDataFrame(
        [(Vectors.dense(rng.random(), rng.random()), rng.random()) for _ in range(60)],
        ["features", "label"]).cache()
    train.count()
    calls = []
    send, fitting = GatewayClient.send_command, threading.get_ident()

    def counted(self, command, *args, **kwargs):
        # the fit's own calls: not other threads', nor the detaching of
        # objects that earlier tests left to the garbage collector
        if threading.get_ident() == fitting and not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    model = _regressor(1).fit(train)
    monkeypatch.undo()
    train.unpersist()
    assert len(calls) < FIT_PY4J_CEILING
    assert len(model.trees) == model.getNumTrees == 20
    model.write().save(str(tmp_path / "forest"))
    loaded = RandomForestRegressionModel.load(str(tmp_path / "forest"))
    assert loaded.getNumTrees == 20
    assert loaded.toDebugString == model.toDebugString


def test_run_pushes_no_compiler_directive(spark, fixture_dir, tmp_path, monkeypatch):
    """Only the one-job entry point ``main`` compiles with C1 only: the
    library call leaves the session's JIT alone."""
    from recommendation_translation_spark import session

    calls = []
    monkeypatch.setattr(session, "_diagnostic_command",
                        lambda *a: calls.append(a[1:]) or "")
    run(spark, Params(parse_raw_data=True, raw_data=str(fixture_dir / "raw.tsv"),
                      output_dir=str(tmp_path)))
    assert calls == []


def test_short_job_is_a_parse_of_small_local_files(tmp_path):
    half = tmp_path / "half.txt"
    with open(half, "wb") as f:
        f.truncate(C1_ONLY_MAX_INPUT_BYTES // 2)
    assert _short_job(Params(parse_raw_data=True, raw_data=str(half)))
    assert _short_job(Params(parse_raw_data=True, raw_sitelinks=str(half),
                             raw_pagecounts=str(half)))
    with open(half, "ab") as f:
        f.write(b"x")
    # the input files count together
    assert not _short_job(Params(parse_raw_data=True, raw_sitelinks=str(half),
                                 raw_pagecounts=str(half)))
    # a glob, a directory and earlier artifacts have no known size
    for raw in (str(tmp_path / "*.txt"), str(tmp_path)):
        assert not _short_job(Params(parse_raw_data=True, raw_data=raw))
    assert not _short_job(Params(extract_features=True, parsed_data=str(tmp_path)))


@pytest.mark.parametrize("size, pushed", [(C1_ONLY_MAX_INPUT_BYTES, True),
                                          (C1_ONLY_MAX_INPUT_BYTES + 1, False)])
def test_main_compiles_only_a_short_job_with_c1_only(spark, tmp_path, monkeypatch,
                                                    size, pushed):
    """``main`` runs a job whose raw input is within the size limit under
    ``c1_only`` and a larger one with C2, as ``run`` does."""
    from recommendation_translation_spark import cli, session

    raw = tmp_path / "raw.tsv"
    with open(raw, "wb") as f:
        f.truncate(size)
    ops = []
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(session, "_diagnostic_command",
                        lambda spark, op, *a: ops.append(op) or "")
    monkeypatch.setattr(cli, "run", lambda spark, p: {})
    argv = ["--parse-raw-data", "--raw-data", str(raw), "--output-dir", str(tmp_path)]
    assert cli.main(argv) == 0
    assert ("compilerDirectivesAdd" in ops) is pushed


#: ``cli.main`` in a fresh driver process.  An unwritable class-data
#: cache gives a plain launch, with no archive to train at exit; ``run``
#: reports the driver's compiler directive count while it runs.
MAIN_CHILD = r"""
import json, sys
from recommendation_translation_spark import cli, session
session._CDS_DIR = sys.argv[1]
run, directives = cli.run, []
def probed(spark, p):
    out = session._diagnostic_command(spark, "compilerDirectivesPrint")
    directives.append(out.count("Directive:"))
    return run(spark, p)
cli.run = probed
rc = cli.main(sys.argv[2:])
print(json.dumps({"rc": rc, "directives": directives}))
"""


def _node_data(spark, model_dir: str, site: str) -> list:
    data = spark.read.parquet(os.path.join(model_dir, site, "data"))
    return data.orderBy("treeID", "nodeData.id").collect()


def test_main_outputs_equal_run(spark, fixture_dir, full_run, tmp_path):
    """``cli.main`` compiles the job with C1 only, in a driver of its
    own; its predictions and models equal those of ``run`` in this
    session (C2 code) on the same input and seed."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    blocked = tmp_path / "file"
    blocked.write_text("")
    # the CSV's row order follows the shuffle partitions, which the
    # child's session sets to its core count
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               SPARK_GRAFT_CPUS=spark.conf.get("spark.sql.shuffle.partitions"),
               PYTHONPATH=repo + os.pathsep + os.environ.get("PYTHONPATH", ""))
    env.pop("PYSPARK_GATEWAY_PORT", None)
    args = ["--parse-raw-data", "--extract-features", "--build-models", "--score-items",
            "--raw-data", str(fixture_dir / "raw.tsv"), "--output-dir", str(tmp_path / "out"),
            "--seed", "42"]
    proc = subprocess.run([sys.executable, "-c", MAIN_CHILD, str(blocked / "cds"), *args],
                          env=env, cwd=repo, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert json.loads(lines[-1]) == {"rc": 0, "directives": [2]}
    artifacts = dict(ln.split(": ", 1) for ln in lines[:-1] if ": " in ln)

    def csv_text(arts) -> str:
        (path,) = glob.glob(os.path.join(arts["predictions"], "*.csv.bz2"))
        with bz2.open(path, "rt") as f:
            return f.read()

    assert csv_text(artifacts) == csv_text(full_run)
    for site in SITES:
        assert _node_data(spark, artifacts["model_dir"], site) == \
            _node_data(spark, full_run["model_dir"], site), site


def _write_raw_tsv(path, first_id: int, seed: int) -> set[str]:
    """An A1 raw-data TSV over every fixture site with ids from
    ``first_id`` on; returns its ids."""
    rng = random.Random(seed)
    ids = [f"Q{first_id + i}" for i in range(N_IDS)]
    with open(path, "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(["", "id", "site", "title", "pageviews"])
        for i, qid in enumerate(ids):
            for site in SITES:
                w.writerow([i * len(SITES) + SITES.index(site), qid, site,
                            f"Article_{qid}", float(rng.randint(1, 500))])
    return set(ids)


def test_rerun_over_rewritten_input_reads_the_new_file(spark, tmp_path_factory):
    """A second run in the same session, over an input rewritten at the
    same path, computes its feature matrix from the new file: ``run``
    releases the matrix it cached, so Spark cannot match the new plan
    (same path, same stages) to the first run's cached data, and it
    leaves the session's cache manager as it found it."""
    d = tmp_path_factory.mktemp("rewrite")
    raw = d / "raw.tsv"
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for first_id, seed in ((100, 1), (900, 2)):
        ids = _write_raw_tsv(raw, first_id, seed)
        artifacts = run(spark, Params(parse_raw_data=True, extract_features=True,
                                      raw_data=str(raw), output_dir=str(d / f"run{seed}")))
        feats = spark.read.parquet(artifacts["feature_data"])
        assert {r.id for r in feats.select("id").collect()} == ids
    assert cache_manager.isEmpty()


def test_split_inputs_equal_combined(spark, fixture_dir, tmp_path_factory):
    """EP1 parity: sitelinks ⋈ pagecounts (with .z filter/rewrite)
    produces the same parsed relation as the combined raw-data TSV."""
    out = tmp_path_factory.mktemp("split")
    p = Params(
        parse_raw_data=True,
        raw_sitelinks=str(fixture_dir / "sitelinks.tsv"),
        raw_pagecounts=str(fixture_dir / "pagecounts"),
        output_dir=str(out),
    )
    artifacts = run(spark, p)
    joined = spark.read.parquet(artifacts["parsed_data"])
    rows = _gen_rows()
    got = {(r.id, r.site, r.title, r.pageviews) for r in joined.collect()}
    assert got == set(rows)


# ---------------------------------------------------------------------------
# golden run against the REAL reference fixture (round-2 verdict #8) —
# /root/reference/lite-sitelinks-pagecounts.tsv, not the synthesized
# lookalike above.  Closes the fidelity loop with the actual artifact.
# ---------------------------------------------------------------------------

GOLDEN_TSV = "/root/reference/lite-sitelinks-pagecounts.tsv"
GOLDEN_SITES = ["dewiki", "enwiki", "frwiki"]


@pytest.fixture(scope="module")
def golden_run(spark, tmp_path_factory):
    if not os.path.exists(GOLDEN_TSV):
        pytest.skip("reference fixture not available")
    out = tmp_path_factory.mktemp("golden")
    p = Params(
        parse_raw_data=True,
        extract_features=True,
        build_models=True,
        score_items=True,
        raw_data=GOLDEN_TSV,
        output_dir=str(out),
        target_wikis=GOLDEN_SITES,
        seed=42,
    )
    return run(spark, p)


def test_golden_parsed_row_counts(spark, golden_run):
    # every data line of the real TSV parses: 2615 rows, 23 items,
    # 269 sites (wc -l minus header; verified against the raw file)
    parsed = spark.read.parquet(golden_run["parsed_data"])
    assert parsed.count() == 2615
    assert parsed.select("id").distinct().count() == 23
    assert parsed.select("site").distinct().count() == 269
    assert set(parsed.columns) == {"id", "site", "title", "pageviews"}


def test_golden_rank_invariants(spark, golden_run):
    feats = spark.read.parquet(golden_run["feature_data"])
    # the feature matrix spans EVERY site in the dump (269), not just
    # the train/score targets — FeatureExtractor.scala:50-104 semantics
    assert len(feats.columns) == 1 + 3 * 269
    pdf = feats.toPandas()
    for site in GOLDEN_SITES:
        on = pdf[f"exists_{site}"] == 1.0
        ranks = pdf[f"rank_{site}"]
        assert set(pdf[f"exists_{site}"].unique()) <= {0.0, 1.0}
        assert ((ranks[on] > 0) & (ranks[on] <= 1.0)).all()
        assert (ranks[~on] == 0.0).all()
        # exactly one max-rank row per site (row_number tie-break)
        assert (ranks[on] == 1.0).sum() == 1


def test_golden_predictions(spark, golden_run):
    files = glob.glob(os.path.join(golden_run["predictions"], "*.csv.bz2"))
    assert len(files) == 1
    with bz2.open(files[0], "rt") as f:
        reader = csv.reader(f)
        header = next(reader)
        body = list(reader)
    assert header == ["id"] + GOLDEN_SITES
    ids = [r[0] for r in body]
    # enwiki holds all 23 items but de/fr have holes -> someone scores
    assert len(ids) == len(set(ids)) and len(ids) > 0


# ---------------------------------------------------------------------------
# round-3 source/sink surface: JSONL round-trip, versioned MERGE/upsert
# ---------------------------------------------------------------------------


def test_jsonl_round_trip(spark, tmp_path):
    from pyspark.sql import functions as F

    from recommendation_translation_spark.sources.readers import read_jsonl
    from recommendation_translation_spark.sources.writers import write_jsonl

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0), (3, "gämma", 0.0)],
        "id long, name string, score double",
    )
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, schema="id long, name string, score double")
    assert {(r.id, r.name, r.score) for r in back.collect()} == {
        (r.id, r.name, r.score) for r in df.collect()
    }
    # malformed lines drop, not fail (DROPMALFORMED ingest posture)
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.json").write_text(
        '{"id": 1, "name": "ok", "score": 1.0}\n{not json at all\n'
    )
    got = read_jsonl(spark, str(bad), schema="id long, name string, score double")
    assert [r.id for r in got.collect()] == [1]


def test_merge_upsert_parquet_versions(spark, tmp_path):
    from recommendation_translation_spark.sources.writers import (
        merge_upsert_parquet,
        read_current_version,
    )

    target = str(tmp_path / "acct")
    v1 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    merge_upsert_parquet(spark, target, v1, ["k"])
    assert {(r.k, r.v) for r in read_current_version(spark, target).collect()} == {
        (1, 10.0), (2, 20.0), (3, 30.0)
    }
    # matched keys update, unmatched insert — the MERGE contract
    upd = spark.createDataFrame([(2, 99.0), (4, 40.0)], "k long, v double")
    merge_upsert_parquet(spark, target, upd, ["k"])
    assert {(r.k, r.v) for r in read_current_version(spark, target).collect()} == {
        (1, 10.0), (2, 99.0), (3, 30.0), (4, 40.0)
    }
    # the previous snapshot is still intact (pointer flip, not rewrite)
    import os

    assert os.path.isdir(os.path.join(target, "_v1"))
    assert open(os.path.join(target, "_CURRENT")).read().strip() == "_v2"


# ---------------------------------------------------------------------------
# S4 warehouse SQL source against a REAL catalog table (round 3) —
# Spark's built-in catalog supports databases/partitioned tables
# without Hive, so DataGatherer.scala:68-74 runs end-to-end here.
# ---------------------------------------------------------------------------


def test_pageview_sql_source_against_catalog_table(spark, tmp_path):
    from pyspark.sql import functions as F

    from recommendation_translation_spark.sources.readers import read_pageview_sql

    db = "wmf_test"
    table = f"{db}.pageview_hourly"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/wh'")
    rows = []
    for day in (1, 2):  # two partitions; the query must prune to day 1
        for hour in (0, 1):
            rows += [
                ("en.wikipedia", "Article_A", 10 * hour + day, 2017, 1, day),
                ("de.wikipedia", "Artikel_B", 5, 2017, 1, day),
            ]
    src = spark.createDataFrame(
        rows, "project string, page_title string, view_count long, "
              "year int, month int, day int"
    )
    (
        src.write.mode("overwrite")
        .partitionBy("year", "month", "day")
        .saveAsTable(table)
    )
    try:
        got = read_pageview_sql(spark, table=table, year=2017, month=1, day=1)
        vals = {(r.site, r.title, r.pageviews) for r in got.collect()}
        # day-1 rows only: hours 0 and 1 summed, day-2 partition pruned
        assert vals == {
            ("en.wikipedia", "Article_A", 12.0),  # (0+1) + (10+1)
            ("de.wikipedia", "Artikel_B", 10.0),
        }
        # the static predicates must prune PARTITIONS, not filter rows:
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "day" in plan
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_time_travel_reads_and_cdc_between_versions(spark, tmp_path):
    from recommendation_translation_spark.operators.cdc import snapshot_diff
    from recommendation_translation_spark.sources.writers import (
        list_versions,
        merge_upsert_parquet,
        read_current_version,
        read_version,
    )

    target = str(tmp_path / "tt")
    v1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    merge_upsert_parquet(spark, target, v1, ["k"])
    v2 = spark.createDataFrame([(2, 25.0), (3, 30.0)], "k long, v double")
    merge_upsert_parquet(spark, target, v2, ["k"])

    assert list_versions(target) == [1, 2]
    # old versions are immutable + readable; current == latest
    assert {(r.k, r.v) for r in read_version(spark, target, 1).collect()} == {
        (1, 10.0), (2, 20.0)
    }
    assert {(r.k, r.v) for r in read_version(spark, target, 2).collect()} == {
        (1, 10.0), (2, 25.0), (3, 30.0)
    }
    cur = {(r.k, r.v) for r in read_current_version(spark, target).collect()}
    assert cur == {(1, 10.0), (2, 25.0), (3, 30.0)}

    # CDC between versions recovers exactly the applied upsert
    diff = {
        (r.k, r.action)
        for r in snapshot_diff(
            read_version(spark, target, 1), read_version(spark, target, 2), ["k"]
        ).collect()
    }
    assert diff == {(2, "update"), (3, "insert")}

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_version(spark, target, 9)


def test_vacuum_versions_retention(spark, tmp_path):
    import pytest as _pytest

    from recommendation_translation_spark.sources.writers import (
        list_versions,
        merge_upsert_parquet,
        read_current_version,
        read_version,
        vacuum_versions,
    )

    target = str(tmp_path / "vac")
    for i in range(1, 5):  # versions 1..4
        up = spark.createDataFrame([(i, float(i))], "k long, v double")
        merge_upsert_parquet(spark, target, up, ["k"])
    assert list_versions(target) == [1, 2, 3, 4]

    removed = vacuum_versions(target, keep_last=2)
    assert removed == [1, 2]
    assert list_versions(target) == [3, 4]
    # the current pointer still resolves; surviving history still reads
    assert read_current_version(spark, target).count() == 4
    assert read_version(spark, target, 3).count() == 3
    with _pytest.raises(FileNotFoundError):
        read_version(spark, target, 1)
    # keep_last clamps to >= 1 and never deletes the current version
    assert vacuum_versions(target, keep_last=0) == [3]
    assert list_versions(target) == [4]
    assert read_current_version(spark, target).count() == 4
