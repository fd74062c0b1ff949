"""Output checks, run after the JVM has exited, so outside every timer.

The KPI check recomputes the five KPI tables in DuckDB from the same
generated CSVs; the registry check runs each sampled entry's own oracle
SQL over the same parquet tables. Both compare exactly, the way the
repo's DuckDB gate does: columns and rows sorted, values equal bit for
bit, integer and float columns not mixed, and the sign of zero kept.
The comparison lives here, not in a shared module, so that a change to
the program's tooling cannot change what the benchmark accepts.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def dtype_class(s):
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "ts"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    return "str"


def compare(got, exp):
    """None when equal, else a one-line reason."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    skew = [c for c in g.columns if dtype_class(g[c]) != dtype_class(e[c])]
    if skew:
        return f"dtype class differs on {skew}"
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return "values differ: " + " ".join(str(ex).split())[:300]
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]):
            gz, ez = g[c].to_numpy("float64"), e[c].to_numpy("float64")
            if ((gz == 0.0) & (ez == 0.0) & (np.signbit(gz) != np.signbit(ez))).any():
                return f"sign of zero differs in {c}"
    return None


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def read_output(d):
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


# The KPI definitions of graft.kpi.KpiQueries over the validated streams:
# a line whose listen_time does not parse is quarantined, a line with a
# missing field is dropped, and both dimensions are left-joined.
KPI_BASE = """
WITH raw AS (
  SELECT * FROM read_csv({files}, header=true, auto_detect=false,
    columns={{'user_id': 'VARCHAR', 'track_id': 'VARCHAR', 'listen_time': 'VARCHAR'}})
), streams AS (
  SELECT user_id, track_id, strptime(listen_time, '%Y-%m-%d %H:%M:%S') AS ts
  FROM raw
  WHERE try_strptime(listen_time, '%Y-%m-%d %H:%M:%S') IS NOT NULL
    AND user_id IS NOT NULL AND track_id IS NOT NULL
), songs AS (
  SELECT track_id, track_genre, CAST(duration_ms AS BIGINT) AS duration_ms
  FROM read_csv('{songs}', header=true, all_varchar=true)
), users AS (
  SELECT user_id, user_name, user_country
  FROM read_csv('{users}', header=true, all_varchar=true)
), enriched AS (
  SELECT st.user_id, st.track_id, st.ts, so.track_genre, so.duration_ms,
         u.user_name, u.user_country
  FROM streams st
  LEFT JOIN songs so ON st.track_id = so.track_id
  LEFT JOIN users u ON st.user_id = u.user_id
)"""

DAILY = """daily AS (
  SELECT date_trunc('day', ts) AS date, track_genre,
    COUNT(track_id) AS listen_count,
    COUNT(DISTINCT user_id) AS unique_listeners,
    (CAST(SUM(duration_ms) AS BIGINT) / 60000.0) AS total_listening_time_minutes
  FROM enriched GROUP BY 1, 2
)"""

KPI_SQL = {
    "user_kpis": """
SELECT user_id, user_name, user_country,
  COUNT(track_id) AS total_songs_played,
  (CAST(SUM(duration_ms) AS BIGINT) / 60000.0) AS total_listening_time_minutes,
  ((CAST(SUM(duration_ms) AS BIGINT) / 60000.0) / COUNT(duration_ms)) AS avg_listening_time_minutes,
  'user' AS kpi_type
FROM enriched GROUP BY 1, 2, 3""",
    "genre_daily_metrics_kpi": f", {DAILY} SELECT * FROM daily",
    "genre_top_songs_kpi": """, plays AS (
  SELECT date_trunc('day', ts) AS date, track_genre, track_id, COUNT(*) AS play_count
  FROM enriched GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, DENSE_RANK() OVER (PARTITION BY date, track_genre ORDER BY play_count DESC) AS rank
  FROM plays
)
SELECT * FROM ranked WHERE rank <= 3""",
    "genre_top_genres_kpi": f""", {DAILY}, ranked AS (
  SELECT *, DENSE_RANK() OVER (PARTITION BY date ORDER BY listen_count DESC) AS rank
  FROM daily
)
SELECT * FROM ranked WHERE rank <= 5""",
    "trending_kpis": """, tw AS (
  SELECT track_id, track_genre, duration_ms, user_id,
    COUNT(track_id) OVER (
      PARTITION BY track_id
      ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT) DESC
      RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS plays_in_window
  FROM enriched
)
SELECT track_id, track_genre,
  MAX(plays_in_window) AS plays_last_24h,
  (CAST(SUM(duration_ms) AS BIGINT) / 60000.0) AS total_listening_time_minutes,
  COUNT(DISTINCT user_id) AS unique_listeners,
  'trending' AS kpi_type
FROM tw GROUP BY 1, 2""",
}


def check_kpis(stream_files, songs, users, kpi_dir, kpi_rows):
    """Failures of the five KPI outputs against DuckDB, and of each
    output's row count against the count the job reported."""
    con = connect()
    base = KPI_BASE.format(files="[" + ", ".join(f"'{f}'" for f in stream_files) + "]",
                           songs=songs, users=users)
    failures = []
    for name, sql in KPI_SQL.items():
        got = read_output(f"{kpi_dir}/{name}")
        if got is None:
            failures.append(f"{name}: no output")
            continue
        why = compare(got, con.execute(base + sql).df())
        if why:
            failures.append(f"{name}: {why}")
        if len(got) != kpi_rows.get(name, -1):
            failures.append(f"{name}: job reported {kpi_rows.get(name)} rows, wrote {len(got)}")
    return failures


def check_registry(data_dir, out_dir, oracle_sql):
    """Failures of the sampled registry entries against their oracle SQL."""
    con = connect()
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    failures = []
    for name, sql in sorted(oracle_sql.items()):
        got = read_output(f"{out_dir}/{name}")
        if got is None:
            failures.append(f"{name}: no output")
            continue
        try:
            exp = con.execute(sql).df()
        except Exception as e:  # an oracle that does not run is a failed check
            failures.append(f"{name}: oracle error {e}")
            continue
        why = compare(got, exp)
        if why:
            failures.append(f"{name}: {why}")
    return failures
