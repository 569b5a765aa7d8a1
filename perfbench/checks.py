"""Output checks that run after the JVM exits.

- etl_*: the KPI CSVs the program wrote are compared with an independent
  DuckDB computation over the generated input CSVs, using the output
  semantics of FIXTURES.md and the MusicKpis scaladoc: the null-genre group
  is kept, the per-group mode breaks ties by the lexicographically smallest
  track name, and the top-5 artists per hour break ties by name ascending.
- snapshot_commits: the JVM compares every point read and every full read
  with its in-memory model of the table; failures arrive in `failed`.
- registry_sample: the untimed pass's results are compared with each
  query's `SparkEntry.oracleSql` by the repository's own DuckDB check,
  `tools/check_correctness.py`.

`check` returns the problems found (none means correct) and the number of
operations whose output was wrong.
"""
import csv
import os
import subprocess
import sys

SONGS_COLS = {
    "id": "INTEGER", "track_id": "VARCHAR", "artists": "VARCHAR",
    "album_name": "VARCHAR", "track_name": "VARCHAR", "popularity": "INTEGER",
    "duration_ms": "INTEGER", "explicit": "BOOLEAN", "danceability": "DOUBLE",
    "energy": "DOUBLE", "song_key": "INTEGER", "loudness": "DOUBLE",
    "mode": "INTEGER", "speechiness": "DOUBLE", "acousticness": "DOUBLE",
    "instrumentalness": "DOUBLE", "liveness": "DOUBLE", "valence": "DOUBLE",
    "tempo": "DOUBLE", "time_signature": "INTEGER", "track_genre": "VARCHAR"}
USERS_COLS = {"user_id": "INTEGER", "user_name": "VARCHAR", "user_age": "INTEGER",
              "user_country": "VARCHAR", "created_at": "DATE"}
STREAMS_COLS = {"user_id": "INTEGER", "track_id": "VARCHAR", "listen_time": "TIMESTAMP"}

ENRICHED = """
CREATE TEMP VIEW enriched AS
SELECT s.user_id, s.track_id, s.listen_time, g.track_genre, g.duration_ms,
       g.track_name, g.artists,
       CAST(s.listen_time AS DATE) AS date, hour(s.listen_time) AS hour
FROM streams s LEFT JOIN songs g ON s.track_id = g.track_id
               LEFT JOIN users u ON s.user_id = u.user_id
"""

GENRE = """
WITH k AS (
  SELECT track_genre, date, count(track_id) AS listen_count,
         avg(duration_ms) AS avg_duration
  FROM enriched GROUP BY track_genre, date),
c AS (
  SELECT track_genre, date, track_name, count(*) AS n
  FROM enriched WHERE track_name IS NOT NULL
  GROUP BY track_genre, date, track_name),
m AS (
  SELECT track_genre, date, track_name FROM (
    SELECT *, row_number() OVER (PARTITION BY track_genre, date
                                 ORDER BY n DESC, track_name ASC) AS rn FROM c)
  WHERE rn = 1)
SELECT k.track_genre, CAST(k.date AS VARCHAR), k.listen_count, k.avg_duration,
       m.track_name
FROM k LEFT JOIN m ON k.track_genre IS NOT DISTINCT FROM m.track_genre
                  AND k.date IS NOT DISTINCT FROM m.date
"""

HOURLY = """
WITH b AS (
  SELECT hour, count(DISTINCT user_id) AS unique_listeners,
         count(DISTINCT track_id) / count(*) AS track_diversity_index
  FROM enriched GROUP BY hour),
c AS (
  SELECT hour, artists, count(*) AS n FROM enriched
  WHERE artists IS NOT NULL GROUP BY hour, artists),
t AS (
  SELECT hour, string_agg(artists, ',' ORDER BY rn) AS top_artists FROM (
    SELECT *, row_number() OVER (PARTITION BY hour
                                 ORDER BY n DESC, artists ASC) AS rn FROM c)
  WHERE rn <= 5 GROUP BY hour)
SELECT b.hour, b.unique_listeners, t.top_artists, b.track_diversity_index
FROM b LEFT JOIN t ON b.hour IS NOT DISTINCT FROM t.hour
"""


def _read_spark_csv(path):
    with open(path, newline="") as fh:
        r = csv.reader(fh)
        next(r)
        return [[None if c == "" else c for c in row] for row in r]


def _same(want, got, kinds):
    """Compare one expected row (DuckDB values) with one CSV row (text).
    Doubles compare exactly: both engines divide the same exact integer
    sums and counts."""
    for w, g, kind in zip(want, got, kinds):
        if w is None or g is None:
            if w is not g:
                return False
        elif kind == "f":
            if float(g) != float(w):
                return False
        elif kind == "i":
            if int(g) != int(w):
                return False
        elif str(w) != g:
            return False
    return True


def _compare(name, want, got, kinds):
    """Problems between expected rows and the rows of one CSV output."""
    key = lambda r: tuple("" if v is None else str(v) for v in r[:2])
    want, got = sorted(want, key=key), sorted(got, key=key)
    if len(want) != len(got):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    bad = [(w, g) for w, g in zip(want, got) if not _same(w, g, kinds)]
    return [f"{name}: {len(bad)} rows differ, first {bad[0]}"] if bad else []


def etl_expected(props):
    """(genre_kpis, hourly_kpis) rows computed by DuckDB from the inputs."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def view(name, path, cols):
        spec = "{" + ", ".join(f"'{c}': '{t}'" for c, t in cols.items()) + "}"
        con.execute(f"CREATE TEMP VIEW {name} AS SELECT * FROM read_csv("
                    f"{path!r}, header=true, columns={spec}, "
                    f"timestampformat='%Y-%m-%d %H:%M:%S')")

    view("users", props["users"], USERS_COLS)
    view("songs", props["songs"], SONGS_COLS)
    view("streams", props["streams"], STREAMS_COLS)
    con.execute(ENRICHED)
    return con.execute(GENRE).fetchall(), con.execute(HOURLY).fetchall()


KINDS = {"genre_kpis": ["s", "s", "i", "f", "s"], "hourly_kpis": ["i", "i", "s", "f"]}


def _rows(path):
    """The lines of a CSV file as bytes, in sorted order."""
    with open(path, "rb") as fh:
        return sorted(fh.read().splitlines())


def check_etl(props, res):
    """Check every kept run against DuckDB; in a traced run also against the
    untraced `MusicPipeline.run` output on the same inputs: the same rows,
    byte for byte. Row order is left out of that comparison because the
    program does not fix it (its hourly CSV lists the hours in a different
    order from one run to the next on the same inputs). Returns (problems,
    number of runs with a wrong output)."""
    kept = res["kept_dir"]
    genre, hourly = etl_expected(props)
    want = {"genre_kpis": genre, "hourly_kpis": hourly}
    problems, failed = [], 0
    runs = sorted(d for d in os.listdir(kept) if d.startswith("run"))
    for run in ["ref"] + runs:
        p = []
        for t, rows in want.items():
            path = os.path.join(kept, run, f"{t}.csv")
            p += _compare(f"{run}/{t}", rows, _read_spark_csv(path), KINDS[t])
            if res.get("traced") and run != "ref" and \
                    _rows(path) != _rows(os.path.join(kept, "ref", f"{t}.csv")):
                # the traced composition must write what the program writes
                p.append(f"{run}/{t}: rows differ from MusicPipeline.run's")
        problems += p
        failed += bool(p) and run != "ref"
    return problems, failed


def check_registry(res):
    """Run tools/check_correctness.py over the checked pass. A wrong query
    result makes every pass wrong (each runs every query)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check_correctness.py"),
                        res["tables"], res["verify_dir"]],
                       capture_output=True, text=True, timeout=120)
    lines = r.stdout.splitlines()
    problems = [ln for ln in lines if not ln.rstrip().endswith(("OK", "rows-only)"))]
    if r.returncode != 0 and not problems:
        problems = [f"check_correctness.py exited {r.returncode}: {r.stderr[-500:]}"]
    return problems, int(res["attempted"]) if problems else 0


def check(workload, props, res):
    """(problems, failed operations) for one run's result."""
    if workload.startswith("etl_"):
        return check_etl(props, res)
    if workload == "registry_sample":
        return check_registry(res)
    return [], 0
