"""Output checks for the translate workloads, run outside timing.

DuckDB recomputes the reference semantics from the generated input files
alone and compares them with what the pipeline wrote:

- the feature matrix: ``rank = row_number() / count(*)`` per site over
  ``(pageviews, id, title)`` ascending, pivoted to
  ``id, pageviews_S, rank_S, exists_S`` per sorted site with zeros for
  absent pairs;
- the predictions: for each target site, the scored ids are exactly the
  ids missing on that site and every score is finite and in [0, 1];
- the models: one saved model directory per target site.

Each check returns the set of sites it found wrong, so a failure counts
against that site's operation.
"""

from __future__ import annotations

import bz2
import csv
import glob
import math
import os

import duckdb

_RAW_COLUMNS = "{'row': 'BIGINT', 'id': 'VARCHAR', 'site': 'VARCHAR', " \
               "'title': 'VARCHAR', 'pageviews': 'DOUBLE'}"
_SITELINK_COLUMNS = "{'id': 'VARCHAR', 'site': 'VARCHAR', 'title': 'VARCHAR'}"
_PAGECOUNT_COLUMNS = "{'site': 'VARCHAR', 'title': 'VARCHAR', 'pageviews': 'DOUBLE'}"


def load_truth(con: duckdb.DuckDBPyConnection, inputs: dict[str, str]) -> None:
    """Create table ``truth(id, site, title, pageviews, rank)`` from the
    combined TSV, or from the sitelinks ⋈ ``.z`` pagecounts join."""
    if "raw_data" in inputs:
        src = (
            f"SELECT id, site, title, pageviews FROM read_csv('{inputs['raw_data']}', "
            f"delim='\t', header=true, columns={_RAW_COLUMNS})"
        )
    else:
        src = f"""
            SELECT s.id, s.site, s.title, p.pageviews
            FROM read_csv('{inputs['sitelinks']}', delim='\t', header=true,
                          columns={_SITELINK_COLUMNS}) s
            JOIN (SELECT regexp_replace(site, '\\.z$', 'wiki') AS site, title, pageviews
                  FROM read_csv('{inputs['pagecounts']}', delim=' ', header=false,
                                quote='', escape='', columns={_PAGECOUNT_COLUMNS})
                  WHERE site LIKE '%.z') p
            USING (site, title)"""
    con.execute(f"""
        CREATE OR REPLACE TABLE truth AS
        SELECT id, site, title, pageviews,
               CAST(row_number() OVER (PARTITION BY site ORDER BY pageviews, id, title)
                    AS DOUBLE) / count(*) OVER (PARTITION BY site) AS rank
        FROM ({src})""")


def truth_sites(con: duckdb.DuckDBPyConnection) -> list[str]:
    return [r[0] for r in con.execute("SELECT DISTINCT site FROM truth ORDER BY 1").fetchall()]


def check_features(con: duckdb.DuckDBPyConnection, feature_dir: str) -> set[str]:
    """Sites whose feature columns differ from the recomputed matrix.

    A missing or misplaced column, a missing or extra id, or any value
    off by any amount fails the site; values that belong to no expected
    site fail every site.
    """
    sites = truth_sites(con)
    con.execute(f"CREATE OR REPLACE VIEW feat AS "
                f"SELECT * FROM read_parquet('{feature_dir}/*.parquet')")
    columns = [r[0] for r in con.execute("DESCRIBE feat").fetchall()]
    expected = ["id"] + [f"{m}_{s}" for s in sites for m in ("pageviews", "rank", "exists")]
    bad = {s for s in sites if not all(f"{m}_{s}" in columns for m in
                                       ("pageviews", "rank", "exists"))}
    present = [c for c in expected if c in columns]
    if [c for c in columns if c in expected] != present:
        return set(sites)  # columns out of order
    if len(columns) > len(present):
        return set(sites)  # columns nobody expects
    rows = con.execute("""
        WITH f AS (UNPIVOT feat ON COLUMNS(* EXCLUDE (id)) INTO NAME col VALUE v),
        ids AS (SELECT DISTINCT id FROM truth),
        e AS (SELECT i.id, s.site, t.pageviews, t.rank
              FROM ids i CROSS JOIN (SELECT DISTINCT site FROM truth) s
              LEFT JOIN truth t ON t.id = i.id AND t.site = s.site),
        el AS (SELECT id, site, 'pageviews_' || site AS col,
                      coalesce(pageviews, 0.0) AS v FROM e
               UNION ALL SELECT id, site, 'rank_' || site, coalesce(rank, 0.0) FROM e
               UNION ALL SELECT id, site, 'exists_' || site,
                                CASE WHEN rank IS NULL THEN 0.0 ELSE 1.0 END FROM e)
        SELECT el.site, count(*)
        FROM el FULL OUTER JOIN f ON el.id = f.id AND el.col = f.col
        WHERE el.v IS DISTINCT FROM CAST(f.v AS DOUBLE)
        GROUP BY el.site""").fetchall()
    for site, _ in rows:
        if site is None:
            return set(sites)
        bad.add(site)
    return bad


def read_predictions(pred_dir: str) -> tuple[list[str], list[list[str]]]:
    parts = glob.glob(os.path.join(pred_dir, "part-*"))
    if len(parts) != 1:
        raise ValueError(f"expected one prediction file, found {len(parts)}")
    opener = bz2.open if parts[0].endswith(".bz2") else open
    with opener(parts[0], "rt", newline="") as fh:
        reader = csv.reader(fh)
        header = next(reader)
        return header, list(reader)


def check_predictions(con: duckdb.DuckDBPyConnection, pred_dir: str,
                      targets: list[str]) -> set[str]:
    """Targets whose scored ids or score values are wrong."""
    try:
        header, rows = read_predictions(pred_dir)
    except (OSError, ValueError, StopIteration):
        return set(targets)
    if header != ["id"] + sorted(targets):
        return set(targets)
    all_ids = {r[0] for r in con.execute("SELECT DISTINCT id FROM truth").fetchall()}
    bad = set()
    for j, site in enumerate(header[1:], start=1):
        on_site = {r[0] for r in con.execute(
            "SELECT id FROM truth WHERE site = ?", [site]).fetchall()}
        scored = set()
        for row in rows:
            if row[j] == "":
                continue
            value = float(row[j])
            if not (math.isfinite(value) and 0.0 <= value <= 1.0):
                bad.add(site)
            scored.add(row[0])
        if scored != all_ids - on_site:
            bad.add(site)
    return bad


def check_models(model_dir: str, targets: list[str]) -> set[str]:
    """Targets with no saved model (its metadata directory is missing)."""
    return {s for s in targets
            if not os.path.isdir(os.path.join(model_dir, s, "metadata"))}
