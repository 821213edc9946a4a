"""DuckDB reference answers for the benchmark's output checks.

Everything here runs after the timed region. Each check returns None when
the program's output matches and a one-line reason when it does not;
`run.py` counts every mismatch as a failed operation.

- lakehouse_build: both gold marts equal the reference's compiled dbt SQL
  ([DSS] driver_session_summary, [TES] team_event_summary, SURVEY.md
  section 2) run by DuckDB over the same bronze files.
- dashboard_serving: the gold marts as above, and every page answer of
  the first pass equals the same five dashboard queries run by DuckDB,
  both over the generated laps (one flat copy of the rows written to
  bronze).
- analytics_sweep: every swept query equals its `SparkEntry.oracleSql`
  answer over the same generated tables, compared the way the
  repository's correctness gate compares them (sorted, stringified).
"""
import glob
import json
import math

import duckdb

SILVER = """
CREATE VIEW silver_{t} AS
SELECT TRY_CAST(season AS INTEGER) AS season, TRY_CAST("round" AS INTEGER) AS "round",
       CAST(grand_prix AS VARCHAR) AS grand_prix, CAST("session" AS VARCHAR) AS session_code,
       * EXCLUDE (season, "round", grand_prix, "session")
FROM read_parquet('{root}/{t}/*/*/*/*/*.parquet', hive_partitioning = 1,
                  hive_types_autocast = 0, union_by_name = 1)
"""

# The dashboard workload's laps as the generator wrote them to one flat
# file, partition values as columns (the hive leaf files are gone by then).
FLAT_LAPS = SILVER.replace(
    "read_parquet('{root}/{t}/*/*/*/*/*.parquet', hive_partitioning = 1,\n"
    "                  hive_types_autocast = 0, union_by_name = 1)",
    "read_parquet('{root}/*.parquet')")

# [DSS] in the reference's two-branch shape: an aggregate over the
# non-null laps LEFT JOINed (plain `=`, so NULL keys never match) to the
# row_number()-based personal-best count, COALESCEd to 0.
DSS = """
CREATE VIEW dss AS
WITH base AS (
  SELECT season, "round", grand_prix, session_code,
         COALESCE(NULLIF(driver, ''), CAST(drivernumber AS VARCHAR)) AS driver,
         CAST(drivernumber AS VARCHAR) AS driver_number, team,
         laptime, pitintime, pitouttime
  FROM silver_laps WHERE laptime IS NOT NULL),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY season, "round", grand_prix, session_code, driver, driver_number, team
    ORDER BY laptime ASC NULLS LAST) AS rn
  FROM base),
pb AS (
  SELECT season, "round", grand_prix, session_code, driver, driver_number, team,
         SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS personal_best_laps
  FROM ranked GROUP BY 1, 2, 3, 4, 5, 6, 7),
agg AS (
  SELECT season, "round", grand_prix, session_code, driver, driver_number, team,
         COUNT(*) AS laps_total,
         SUM(CASE WHEN pitintime IS NULL AND pitouttime IS NULL THEN 1 ELSE 0 END) AS laps_on_track,
         SUM(CASE WHEN pitintime IS NOT NULL OR pitouttime IS NOT NULL THEN 1 ELSE 0 END) AS pitstops,
         MIN(laptime) AS best_lap_time
  FROM base GROUP BY 1, 2, 3, 4, 5, 6, 7)
SELECT agg.*, COALESCE(pb.personal_best_laps, 0) AS personal_best_laps
FROM agg LEFT JOIN pb
  ON agg.season = pb.season AND agg."round" = pb."round" AND agg.grand_prix = pb.grand_prix
 AND agg.session_code = pb.session_code AND agg.driver = pb.driver
 AND agg.driver_number = pb.driver_number AND agg.team = pb.team
"""

# [TES]: the DSS mart re-aggregated per team; "race only" admits R, Q, S.
TES = """
CREATE VIEW tes AS
SELECT season, "round", grand_prix, session_code, team,
       SUM(laps_on_track) AS team_laps_on_track, SUM(pitstops) AS team_pitstops,
       MIN(best_lap_time) AS team_best_lap_time
FROM dss WHERE session_code IN ('R', 'Q', 'S')
GROUP BY 1, 2, 3, 4, 5
"""

DSS_COLS = ("season, \"round\", grand_prix, session_code, driver, driver_number, team, "
            "laps_total, laps_on_track, pitstops, best_lap_time, personal_best_laps")
TES_COLS = ("season, \"round\", grand_prix, session_code, team, team_laps_on_track, "
            "team_pitstops, team_best_lap_time")

# The dashboard's five page queries (dashboard/app.py), per (season, code).
PAGE = {
    "session_date": """SELECT strftime(MIN(lapstartdate), '%Y-%m-%d') AS session_date
        FROM silver_laps WHERE season = $s AND session_code = $c""",
    "kpis": """SELECT COUNT(*) AS total_laps, COUNT(DISTINCT driver) AS n_drivers,
        COUNT(DISTINCT team) AS n_teams
        FROM silver_laps WHERE season = $s AND session_code = $c""",
    "fastest_laps": """SELECT driver, team, grand_prix, "round",
          printf('%02d:%02d.%03d', CAST(FLOOR(best_lap_time / 60000000000) AS BIGINT),
                 CAST(FLOOR(best_lap_time / 1000000000) AS BIGINT) % 60,
                 CAST(FLOOR(best_lap_time / 1000000) AS BIGINT) % 1000) AS best_lap_pretty,
          best_lap_time / 1e9 AS best_lap_sec
        FROM dss WHERE season = $s AND session_code = $c AND best_lap_time IS NOT NULL
        ORDER BY best_lap_pretty, driver LIMIT 50""",
    "team_summary": f"""SELECT {TES_COLS} FROM tes
        WHERE season = $s AND session_code = $c ORDER BY "round", team""",
    "pace_evolution": """SELECT lapnumber, median(laptime) AS median_laptime
        FROM silver_laps WHERE season = $s AND session_code = $c AND laptime IS NOT NULL
        GROUP BY lapnumber ORDER BY lapnumber""",
}


def _bronze(con, root: str) -> None:
    for t in ("laps", "weather", "results"):
        con.execute(SILVER.format(t=t, root=root))
    con.execute(DSS)
    con.execute(TES)


def _same_table(con, actual_dir: str, oracle: str, cols: str, name: str):
    con.execute(f"CREATE OR REPLACE VIEW actual AS SELECT {cols} "
                f"FROM read_parquet('{actual_dir}/*.parquet')")
    n_act, n_exp = (con.execute(f"SELECT COUNT(*) FROM {v}").fetchone()[0]
                    for v in ("actual", oracle))
    if n_act != n_exp:
        return f"{name}: {n_act} rows, DuckDB reference has {n_exp}"
    diff = con.execute(f"SELECT COUNT(*) FROM (SELECT * FROM actual EXCEPT ALL "
                       f"SELECT {cols} FROM {oracle})").fetchone()[0]
    return f"{name}: {diff} rows differ from the DuckDB reference" if diff else None


def _same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-12)
    return a == b


def check_lakehouse(work: str) -> list:
    con = duckdb.connect()
    _bronze(con, f"{work}/bronze")
    return [_same_table(con, f"{work}/out/dss", "dss", DSS_COLS, "gold.driver_session_summary"),
            _same_table(con, f"{work}/out/tes", "tes", TES_COLS, "gold.team_event_summary")]


def check_pages(work: str) -> list:
    con = duckdb.connect()
    con.execute(FLAT_LAPS.format(t="laps", root=f"{work}/out/laps"))
    con.execute(DSS)
    con.execute(TES)
    out = [_same_table(con, f"{work}/out/dss", "dss", DSS_COLS, "gold.driver_session_summary"),
           _same_table(con, f"{work}/out/tes", "tes", TES_COLS, "gold.team_event_summary")]
    with open(f"{work}/out/pages.jsonl") as f:
        for line in f:
            page = json.loads(line)
            for call in page["calls"]:
                want = con.execute(PAGE[call["call"]],
                                   {"s": page["season"], "c": page["code"]}).fetchall()
                got = call["rows"]
                ok = len(want) == len(got) and all(
                    len(w) == len(g) and all(_same_value(x, y) for x, y in zip(w, g))
                    for w, g in zip(want, got))
                out.append(None if ok else
                           f"page {page['season']}/{page['code']} {call['call']}: "
                           f"{got[:2]} != DuckDB {want[:2]}")
    return out


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def check_queries(work: str, data: str) -> list:
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "orders", "lineitem", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(f"{work}/out/oracle.json") as f:
        oracles = json.load(f)
    out = []
    for name, sql in sorted(oracles.items()):
        if not sql:
            out.append(f"{name}: no oracle SQL")
            continue
        files = glob.glob(f"{work}/out/q/{name}/*.parquet")
        if not files:
            out.append(f"{name}: no output written")
            continue
        e = _norm(con.execute(sql).df())
        a = _norm(con.execute(f"SELECT * FROM read_parquet('{work}/out/q/{name}/*.parquet')").df())
        if list(e.columns) != list(a.columns):
            out.append(f"{name}: columns {list(a.columns)} != {list(e.columns)}")
        elif len(e) != len(a):
            out.append(f"{name}: {len(a)} rows != {len(e)}")
        elif not e.astype(str).equals(a.astype(str)):
            out.append(f"{name}: values differ from the DuckDB oracle")
        else:
            out.append(None)
    return out


def check(workload: str, work: str, data: str) -> list:
    if workload == "lakehouse_build":
        return check_lakehouse(work)
    if workload == "dashboard_serving":
        return check_pages(work)
    return check_queries(work, data)
