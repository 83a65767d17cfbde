"""Correctness checks that do not use the engine.

The ETL oracle recomputes the five star-schema tables from the
generator's own records and compares each produced table by row count
and an order-insensitive digest (``songplay_id`` excluded). The query
oracle runs each query's DuckDB SQL over the same parquet tables, as
``tools/compare.py`` does.
"""
import datetime as dt
import hashlib
import math
import os
import pickle

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

COLUMNS = {
    "songs": ["song_id", "title", "artist_id", "year", "duration"],
    "artists": ["artist_id", "name", "location", "latitude", "longitude"],
    "users": ["user_id", "first_name", "last_name", "gender", "level"],
    "time": ["start_time", "hour", "day", "week", "month", "year", "weekday"],
    "songplays": ["start_time", "user_id", "level", "song_id", "artist_id",
                  "session_id", "location", "user_agent", "year", "month"],
}


# ---------------------------------------------------------------- expected

def _time_row(start_time):
    t = dt.datetime.fromtimestamp(start_time, tz=dt.timezone.utc)
    return (start_time, t.hour, t.day, t.isocalendar()[1], t.month, t.year,
            t.isoweekday() % 7 + 1)


def _start_time(e):
    return int(e["ts"] // 1000)


def next_song(events):
    return [e for e in events if e["page"] == "NextSong"]


def users_rows(plays):
    latest = {}
    for e in plays:
        u = e["userId"]
        latest[u] = max(latest.get(u, e["ts"]), e["ts"])
    return [(e["userId"], e["firstName"], e["lastName"], e["gender"], e["level"])
            for e in plays
            if e["userId"] not in ("", None) and e["ts"] == latest[e["userId"]]]


def time_rows(plays):
    return sorted({_time_row(_start_time(e)) for e in plays})


def expected_full(songs, events):
    songs_t = [(s["song_id"], s["title"], s["artist_id"], s["year"], s["duration"]) for s in songs]
    artists_t = sorted({(s["artist_id"], s["artist_name"], s["artist_location"],
                         s["artist_latitude"], s["artist_longitude"]) for s in songs},
                       key=repr)
    plays = next_song(events)
    names = {}
    for a in artists_t:
        names.setdefault(a[0], []).append(a[1])
    dim = {}
    for s in songs:
        for name in names[s["artist_id"]]:
            dim.setdefault((s["title"], name, s["duration"]), []).append((s["song_id"], s["artist_id"]))
    songplays = []
    for e in plays:
        st = _start_time(e)
        trow = _time_row(st)
        key = (e["song"], e["artist"], e["length"])
        hits = dim.get(key, [(None, None)]) if None not in key else [(None, None)]
        for song_id, artist_id in hits:
            songplays.append((st, e["userId"], e["level"], song_id, artist_id,
                              e["sessionId"], e["location"], e["userAgent"], trow[5], trow[4]))
    return {"songs": songs_t, "artists": artists_t, "users": users_rows(plays),
            "time": time_rows(plays), "songplays": songplays}


def expected_incremental(files, quarantined):
    """Final users and time tables after feeding ``files`` in order with
    static users overwrite and month-partitioned dynamic time overwrite."""
    clean = [evs for name, evs in files if name not in quarantined]
    users = users_rows(next_song(clean[-1]))
    months = {}
    for evs in clean:
        rows = time_rows(next_song(evs))
        for m in {r[4] for r in rows}:
            months[m] = [r for r in rows if r[4] == m]
    return {"users": users, "time": [r for m in sorted(months) for r in months[m]]}


# ---------------------------------------------------------------- produced

def read_table(path, columns):
    """Rows of a (possibly hive-partitioned) parquet table, timestamps as
    epoch seconds."""
    if not os.path.isdir(path):
        return None
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = []
    for c in columns:
        a = table.column(c)
        if pa.types.is_timestamp(a.type):
            unit = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[a.type.unit]
            a = pc.divide(pc.cast(a, pa.int64()), unit)
        cols.append(a.to_pylist())
    return list(zip(*cols))


def digest(rows):
    """Row count and an order-insensitive digest of a multiset of rows."""
    lines = sorted(map(repr, rows))
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def digests(tables):
    return {name: digest(rows) for name, rows in tables.items()}


def compare_tables(out_root, expected):
    """Problems found comparing each ``<out_root>/<name>_table.parquet``
    against ``expected[name]``, a (rows, digest) pair from [[digests]]."""
    problems = []
    for name, (n, d) in expected.items():
        got = read_table(os.path.join(out_root, "%s_table.parquet" % name), COLUMNS[name])
        if got is None:
            problems.append("%s: table missing" % name)
            continue
        gn, gd = digest(got)
        if gn != n:
            problems.append("%s: %d rows, expected %d" % (name, gn, n))
        elif gd != d:
            problems.append("%s: digest %s, expected %s" % (name, gd, d))
    return problems


def output_size(out_root, tables):
    n_bytes = n_files = 0
    for t in tables:
        for d, _, fs in os.walk(os.path.join(out_root, "%s_table.parquet" % t)):
            for f in fs:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(d, f))
    return n_bytes, n_files


def check_incremental(bucket, expected, truncated, returned):
    """``expected`` holds [[digests]] of [[expected_incremental]];
    ``returned`` maps file name to the pipeline's return value."""
    problems = []
    wrong = sorted(n for n, ok in returned.items() if ok == (n in truncated))
    if wrong:
        problems.append("wrong quarantine decision for %s" % ", ".join(wrong))
    failed_dir = os.path.join(bucket, "failed")
    moved = set(os.listdir(failed_dir)) if os.path.isdir(failed_dir) else set()
    moved = {f for f in moved if not f.startswith(".")}
    if moved != set(truncated):
        problems.append("failed/ holds %s, expected %s" % (sorted(moved), sorted(truncated)))
    problems += compare_tables(os.path.join(bucket, "transformed"), expected)
    return problems


# ---------------------------------------------------------------- queries

SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _key(row):
    return tuple((x is None, str(x)) for x in row)


def _oracle_rows(con, sql, sf_dir, cache_dir):
    """Sorted column names and rows of the oracle SQL. The data is fixed,
    so results are cached by the SQL text and the table files' sizes."""
    h = hashlib.sha256(sql.encode())
    for t in SF_TABLES:
        h.update(("%s %d" % (t, os.path.getsize(os.path.join(sf_dir, t + ".parquet")))).encode())
    path = os.path.join(cache_dir, h.hexdigest()[:24] + ".pickle")
    if os.path.isfile(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    want = con.sql(sql)
    cols = sorted(want.columns)
    rows = sorted((tuple(_norm(v) for v in r) for r in want.project(", ".join(cols)).fetchall()), key=_key)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump((cols, rows), f)
    os.replace(path + ".tmp", path)
    return cols, rows


def check_queries(result_dir, sf_dir, oracle_sql, names, cache_dir):
    """{query: problem} for every query in ``names`` whose written result
    differs from DuckDB running its oracle SQL over ``sf_dir``."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in SF_TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, sf_dir, t))
    problems = {}
    for name in names:
        try:
            if name not in oracle_sql:
                raise ValueError("no oracle SQL")
            got = con.sql("SELECT * FROM read_parquet('%s/%s/*.parquet')" % (result_dir, name))
            gcols = sorted(got.columns)
            wcols, w = _oracle_rows(con, oracle_sql[name], sf_dir, cache_dir)
            if gcols != wcols:
                raise ValueError("columns %s != %s" % (gcols, wcols))
            g = sorted((tuple(_norm(v) for v in r) for r in got.project(", ".join(gcols)).fetchall()), key=_key)
            if len(g) != len(w):
                raise ValueError("rows %d != %d" % (len(g), len(w)))
            bad = sum(1 for a, b in zip(g, w) if a != b)
            if bad:
                raise ValueError("%d mismatched rows" % bad)
        except Exception as e:  # any oracle failure counts against the query
            problems[name] = str(e).splitlines()[0][:200]
    con.close()
    return problems
