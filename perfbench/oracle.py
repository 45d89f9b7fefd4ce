"""DuckDB oracle for etl_daily: recompute genre and hourly KPIs from the
generated CSVs and compare them with the partitions Pipeline.run wrote.

Two expectations are checked:

- per run (the contract of one Pipeline.run call): after run r, every date
  partition holds the KPIs of the last run up to r whose input carried that
  date, computed from that run's input alone. The benchmark snapshots the
  output after every run (snap/op_NN), so each run is checked against the
  state it left, the cold first run included. A run that throws, stops early
  or leaves anything else fails this check.
- final state (what a reader of the warehouse wants): every date partition
  holds the KPIs of all events of that date across the inputs processed. A
  batch with late events rewrites the earlier day's partition from those
  events only (dynamic partition overwrite), so this check reports such dates.

Counts, names and tie-break winners must match exactly; the two averages are
compared with a relative tolerance of 1e-9, since summation order differs
between engines.
"""
import glob

import duckdb

AVG_COLS = {"avg_duration_ms", "popularity_index"}
KEYS = {"genre_kpis": ["date", "track_genre"], "hourly_kpis": ["date", "hour"]}


def _kpi_sql(by):
    """by: '' or 'r, ' — optional leading grouping column of the input run."""
    genre = f"""
      WITH f AS (SELECT * FROM e WHERE date IS NOT NULL AND track_genre IS NOT NULL),
      agg AS (SELECT {by} date, track_genre, count(track_id) AS listen_count,
                     avg(duration_ms) AS avg_duration_ms, avg(popularity) AS popularity_index
              FROM f GROUP BY ALL),
      top AS (SELECT {by} date, track_genre, track_name AS most_popular_track,
                     CAST(popularity AS DOUBLE) AS most_popular_track_popularity
              FROM (SELECT *, row_number() OVER (PARTITION BY {by} date, track_genre
                      ORDER BY popularity DESC NULLS LAST, track_name ASC NULLS LAST,
                               track_id ASC) AS rn FROM f) WHERE rn = 1)
      SELECT * FROM agg JOIN top USING ({by} date, track_genre)"""
    hourly = f"""
      WITH f AS (SELECT * FROM e WHERE date IS NOT NULL),
      agg AS (SELECT {by} date, hour, count(DISTINCT user_id) AS unique_listeners,
                     CAST(count(DISTINCT track_id) AS DOUBLE) / count(track_id)
                       AS track_diversity_index
              FROM f GROUP BY ALL),
      plays AS (SELECT {by} date, hour, artists, count(track_id) AS play_count
                FROM f WHERE artists IS NOT NULL GROUP BY ALL),
      top AS (SELECT {by} date, hour, artists AS top_artist
              FROM (SELECT *, row_number() OVER (PARTITION BY {by} date, hour
                      ORDER BY play_count DESC, artists ASC) AS rn FROM plays) WHERE rn = 1)
      SELECT * FROM agg LEFT JOIN top USING ({by} date, hour)"""
    return {"genre_kpis": genre, "hourly_kpis": hourly}


def _load(con, work, inputs):
    """inputs: [(r, glob)] — the input of each run r."""
    con.sql(f"""CREATE TEMP TABLE songs AS SELECT
        coalesce(track_id, 'Unkown') AS track_id, coalesce(artists, 'Unkown') AS artists,
        coalesce(track_name, 'Unkown') AS track_name,
        TRY_CAST(popularity AS INTEGER) AS popularity,
        TRY_CAST(duration_ms AS INTEGER) AS duration_ms,
        coalesce(track_genre, 'Unkown') AS track_genre
      FROM read_csv('{work}/songs.csv', header = true, all_varchar = true)""")
    union = " UNION ALL ".join(
        f"SELECT {r} AS r, * FROM read_csv('{g}', header = true, all_varchar = true)"
        for r, g in inputs)
    con.sql(f"""CREATE TEMP TABLE e AS
      SELECT s.r, CAST(s.user_id AS BIGINT) AS user_id, s.track_id,
             CAST(s.ts AS DATE) AS date, hour(s.ts) AS hour, songs.* EXCLUDE (track_id)
      FROM (SELECT *, TRY_CAST(listen_time AS TIMESTAMP) AS ts FROM ({union})) s
      LEFT JOIN songs USING (track_id)""")


def _written(con, root, table, want):
    """The KPI table under root in want's columns; no rows if none was written."""
    if not glob.glob(f"{root}/{table}/*/*.parquet"):
        return want.iloc[0:0]
    return con.sql(f"""SELECT * REPLACE (CAST(date AS DATE) AS date)
      FROM read_parquet('{root}/{table}/*/*.parquet', hive_partitioning = true)""").df()[
        list(want.columns)]


def _diff(got, want, keys):
    """Dates whose rows differ between the two frames."""
    m = got.merge(want, on=keys, how="outer", suffixes=("_g", "_w"), indicator=True)
    bad = m["_merge"] != "both"
    for c in (c for c in want.columns if c not in keys):
        g, w = m[f"{c}_g"], m[f"{c}_w"]
        if c in AVG_COLS:
            same = ((g - w).abs() <= 1e-9 * w.abs().clip(lower=1)) | (g.isna() & w.isna())
        else:
            same = (g == w) | (g.isna() & w.isna())
        bad |= ~same
    return set(m.loc[bad, "date"].astype(str))


def check(work, ops):
    """ops: the JVM's op records, op r read input ops[r]["input"] and left
    its output in snap/op_NN. Returns per-op verdicts (True = the warehouse
    after the op holds what the inputs so far imply) and a report."""
    with open(f"{work}/manifest.tsv") as f:
        globs = [line.split("\t")[0] for line in f]
    con = duckdb.connect()
    _load(con, work, [(r, globs[op["input"]]) for r, op in enumerate(ops)])
    per_run, final = _kpi_sql("r, "), _kpi_sql("")
    mismatched = []
    stale = {}
    for table, keys in KEYS.items():
        con.sql(f"CREATE TEMP TABLE k_{table} AS {per_run[table]}")
        cols = [c for c in con.table(f"k_{table}").columns if c != "r"]
        for r in range(len(ops)):
            want = con.sql(f"""WITH latest AS (
                SELECT date, max(r) AS r FROM k_{table} WHERE r <= {r} GROUP BY date)
              SELECT k.* FROM k_{table} k JOIN latest USING (date, r)""").df()[cols]
            got = _written(con, f"{work}/snap/op_{r:02d}", table, want)
            mismatched += [(r, f"op_{r:02d}:{table}:{d}") for d in sorted(_diff(got, want, keys))]
        want_all = con.sql(final[table]).df()[cols]
        stale[table] = sorted(_diff(_written(con, f"{work}/out", table, want_all), want_all,
                                   keys))
    bad_ops = {r for r, _ in mismatched}
    verdicts = [r not in bad_ops for r in range(len(ops))]
    return verdicts, {"stale_dates": stale, "mismatched_partitions": [m for _, m in mismatched]}
