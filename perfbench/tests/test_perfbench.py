"""Tests of the benchmark's own code; none of them starts Spark.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import filecmp
import os

import duckdb
import pandas as pd
import pytest

import check
import gen
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
EVENT_LOG = os.path.join(os.path.dirname(HERE), "fixtures", "eventlog")


# ---------------------------------------------------------------- generator


def test_translate_inputs_are_identical_for_a_seed(tmp_path):
    a = gen.write_translate_inputs(str(tmp_path / "a"), 11, 300, 7)
    b = gen.write_translate_inputs(str(tmp_path / "b"), 11, 300, 7)
    c = gen.write_translate_inputs(str(tmp_path / "c"), 12, 300, 7)
    for name in a:
        assert filecmp.cmp(a[name], b[name], shallow=False)
        assert not filecmp.cmp(a[name], c[name], shallow=False)


def test_catalog_tables_are_identical_for_a_seed(tmp_path):
    a = gen.write_catalog_tables(str(tmp_path / "a"), 5, 0.001)
    b = gen.write_catalog_tables(str(tmp_path / "b"), 5, 0.001)
    for t in gen.CATALOG_TABLES:
        assert filecmp.cmp(f"{a}/{t}.parquet", f"{b}/{t}.parquet", shallow=False)


def test_translate_inputs_have_the_fixture_properties(tmp_path):
    paths = gen.write_translate_inputs(str(tmp_path), 3, 400, 9)
    raw = pd.read_csv(paths["raw_data"], sep="\t", index_col=0)
    assert list(raw.columns) == ["id", "site", "title", "pageviews"]
    assert not raw.duplicated(["site", "title"]).any()
    assert not raw.duplicated(["id", "site"]).any()
    per_site = raw.groupby("site")["id"].nunique()
    assert (per_site < raw["id"].nunique()).all()  # every site misses items
    assert raw.duplicated(["site", "pageviews"]).any()  # ties
    pc = pd.read_csv(paths["pagecounts"], sep=" ", header=None,
                     names=["site", "title", "pageviews"])
    assert (~pc["site"].str.endswith(".z")).any()  # noise the reader drops


# ---------------------------------------------------------------- checker


def _feature_frame(con) -> pd.DataFrame:
    """The expected wide matrix, built in pandas from the truth table."""
    long = con.execute("SELECT id, site, pageviews, rank FROM truth").df()
    sites = sorted(long["site"].unique())
    wide = pd.DataFrame({"id": sorted(long["id"].unique())})
    for s in sites:
        part = long[long["site"] == s].set_index("id")
        wide[f"pageviews_{s}"] = wide["id"].map(part["pageviews"]).fillna(0.0)
        wide[f"rank_{s}"] = wide["id"].map(part["rank"]).fillna(0.0)
        wide[f"exists_{s}"] = wide["id"].isin(part.index).astype(float)
    return wide


@pytest.fixture()
def truth(tmp_path):
    paths = gen.write_translate_inputs(str(tmp_path / "in"), 21, 200, 5)
    con = duckdb.connect()
    check.load_truth(con, {"raw_data": paths["raw_data"]})
    return con, tmp_path, paths


def _write(frame: pd.DataFrame, path) -> str:
    os.makedirs(path, exist_ok=True)
    frame.to_parquet(os.path.join(path, "part-0.parquet"), index=False)
    return str(path)


def test_rank_recomputation_matches_the_reference_rule(truth):
    con, _, _ = truth
    ranks = con.execute(
        "SELECT site, max(rank), min(rank), count(*) FROM truth GROUP BY site").fetchall()
    for _, top, low, n in ranks:
        assert top == 1.0 and low == pytest.approx(1.0 / n)


def test_checker_accepts_the_correct_matrix(truth):
    con, tmp, _ = truth
    assert check.check_features(con, _write(_feature_frame(con), tmp / "ok")) == set()


def test_split_inputs_give_the_same_truth(truth):
    con, _, paths = truth
    split = duckdb.connect()
    check.load_truth(split, {k: paths[k] for k in ("sitelinks", "pagecounts")})
    q = "SELECT id, site, pageviews, rank FROM truth ORDER BY site, id"
    assert con.execute(q).fetchall() == split.execute(q).fetchall()


def test_checker_rejects_a_corrupted_rank(truth):
    con, tmp, _ = truth
    frame = _feature_frame(con)
    site = check.truth_sites(con)[2]
    row = frame.index[frame[f"exists_{site}"] == 1.0][0]
    frame.loc[row, f"rank_{site}"] += 1e-9
    assert check.check_features(con, _write(frame, tmp / "bad")) == {site}


def test_checker_rejects_a_dropped_site_column(truth):
    con, tmp, _ = truth
    site = check.truth_sites(con)[1]
    frame = _feature_frame(con).drop(columns=[f"rank_{site}"])
    assert site in check.check_features(con, _write(frame, tmp / "drop"))


def test_prediction_check(truth, tmp_path):
    con, _, _ = truth
    sites = check.truth_sites(con)
    wide = _feature_frame(con)
    pred = pd.DataFrame({"id": wide["id"]})
    for s in sites:
        pred[s] = wide[f"exists_{s}"].map({0.0: 0.5, 1.0: None})
    pred = pred[pred[sites].notna().any(axis=1)]
    os.makedirs(tmp_path / "pred")
    pred.to_csv(tmp_path / "pred" / "part-0.csv", index=False)
    assert check.check_predictions(con, str(tmp_path / "pred"), sites) == set()
    pred.loc[pred.index[0], sites[0]] = 1.5 if pd.notna(pred.iloc[0][sites[0]]) else 0.5
    pred.to_csv(tmp_path / "pred" / "part-0.csv", index=False)
    assert check.check_predictions(con, str(tmp_path / "pred"), sites) == {sites[0]}


# ---------------------------------------------------------------- tracing


def test_event_log_parser_reads_the_committed_log():
    # Two jobs of a local[2] session with AQE off: count() of range(100)
    # in two partitions, then a groupBy(id % 3) collect over two shuffle
    # partitions.  Properties and accumulables are stripped.
    log = tracing.parse_event_log(tracing.event_log_files(EVENT_LOG))
    assert [j["job_id"] for j in log["jobs"]] == [0, 1]
    assert [j["stage_ids"] for j in log["jobs"]] == [[0, 1], [2, 3]]
    assert all(j["result"] == "JobSucceeded" for j in log["jobs"])
    assert all(j["end_ms"] >= j["submit_ms"] for j in log["jobs"])
    assert len(log["tasks"]) == 7
    assert [t["job_id"] for t in log["tasks"]] == [0, 0, 0, 1, 1, 1, 1]
    assert sum(t["shuffle_write_bytes"] for t in log["tasks"]) == 384
    assert sum(t["run_ms"] for t in log["tasks"]) == 1081
    assert sum(t["spill_bytes"] for t in log["tasks"]) == 0


def _span(name, start, end, parent=None, py4j=0):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "py4j_calls": py4j, "counts": {}}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 2.0, 5.0, parent=0),   # overlaps a: covered 1..5
        _span("c", 8.0, 12.0, parent=0),  # clipped to 8..10
        _span("a.child", 1.5, 2.5, parent=1),
    ]
    assert tracing.self_times(spans) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0])


def test_jobs_go_to_the_innermost_open_span():
    spans = [_span("outer", 100.0, 110.0), _span("inner", 102.0, 104.0, parent=0)]
    jobs = [{"job_id": 0, "submit_ms": 101_000}, {"job_id": 1, "submit_ms": 103_000},
            {"job_id": 2, "submit_ms": 120_000}]
    assert tracing.attribute_jobs(spans, jobs) == {0: 0, 1: 1, 2: None}
    assert tracing.attributed_fraction(spans, jobs) == pytest.approx(2 / 3)


def test_recorder_charges_py4j_calls_to_the_innermost_span():
    rec = tracing.SpanRecorder()
    with rec.span("outer"):
        rec.charge_py4j()
        with rec.span("inner"):
            rec.charge_py4j()
            rec.charge_py4j()
    rec.charge_py4j()
    assert [s.py4j_calls for s in rec.spans] == [1, 2]
    assert (rec.py4j_total, rec.py4j_unattributed) == (4, 1)
    assert rec.spans[1].parent == 0
