"""DuckDB twin check of the benchmark's results.

Every distinct result of a run is compared with its DuckDB twin over the
same generated parquet inputs: the registered queries' oracle SQL, or the
seeded-parameter SQL text itself. Columns are matched by name and rows
compared in order, values exactly (NaN equals NaN). The ingest pipeline's
day-partitioned table is compared with the same aggregation over the
source events.
"""
import math
import os
import sys
import threading

import duckdb

TIMEOUT_S = 20

# The ingest pipeline's table, summarised by day and category, against the
# same summary computed from the source events.
INGEST_OUT = """
SELECT CAST(day AS VARCHAR) AS day, category, count(*) AS n,
       sum(event_id) AS sum_id, count(DISTINCT user_id) AS users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM read_parquet('{table}/*/*.parquet', hive_partitioning = true)
GROUP BY ALL ORDER BY ALL"""
INGEST_TWIN = """
SELECT strftime(ts, '%Y%m%d') AS day,
       CASE WHEN event_type IN ('click', 'view') THEN 'interaction'
            WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
            ELSE 'other' END AS category,
       count(*) AS n, sum(event_id) AS sum_id,
       count(DISTINCT user_id) AS users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM events GROUP BY ALL ORDER BY ALL"""


def _timeboxed(con, fn):
    watchdog = threading.Timer(TIMEOUT_S, con.interrupt)
    watchdog.start()
    try:
        return fn()
    finally:
        watchdog.cancel()
        watchdog.join()


def _rows(con, rel):
    """Column names, sorted, and the rows with columns in that order."""
    cols = sorted(rel.columns)
    sql = "SELECT " + ", ".join(f'"{c}"' for c in cols) + " FROM rel"
    return cols, con.sql(sql).fetchall()


def _norm(row):
    return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                 for v in row)


def same(con, got_sql, want_sql):
    """Returns None when both queries give the same rows, else a reason."""
    def fetch():
        rel = con.sql(got_sql)
        got = _rows(con, rel)
        rel = con.sql(want_sql)
        return got, _rows(con, rel)
    (gcols, grows), (wcols, wrows) = _timeboxed(con, fetch)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != {len(wrows)}"
    for i, (a, b) in enumerate(zip(grows, wrows)):
        if _norm(a) != _norm(b):
            return f"row {i}: {a} != {b}"
    return None


def connect(input_dir):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name in sorted(os.listdir(input_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{input_dir}/{name}/*.parquet')")
    return con


def run_checks(input_dir, checks):
    """Returns the keys whose result differs from the DuckDB twin."""
    con = connect(input_dir)
    bad = []
    for c in checks:
        try:
            if c["kind"] == "ingest":
                why = same(con, INGEST_OUT.format(table=c["table"]),
                           INGEST_TWIN)
            else:
                why = same(con, f"SELECT * FROM read_parquet("
                           f"'{c['result']}/*.parquet')", c["oracle"])
        except Exception as e:  # a failing twin is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            print(f"[perfbench] check {c['key']}: {why}"[:2000],
                  file=sys.stderr)
            bad.append(c["key"])
    return bad


def selftest():
    """The comparison must reject a changed value, a missing row and a
    renamed column, and accept an equal result."""
    con = duckdb.connect()
    base = "SELECT * FROM (VALUES (1, 2.5), (2, 'NaN'::DOUBLE)) t(a, b)"
    cases = [
        (base, True),
        ("SELECT * FROM (VALUES (1, 2.5), (2, 3.0)) t(a, b)", False),
        ("SELECT * FROM (VALUES (1, 2.5)) t(a, b)", False),
        ("SELECT * FROM (VALUES (1, 2.5), (2, 'NaN'::DOUBLE)) t(a, c)", False),
    ]
    ok = True
    for sql, want_same in cases:
        got_same = same(con, sql, base) is None
        ok &= got_same == want_same
    print(f"{'PASS' if ok else 'FAIL'} DuckDB comparison rejects changed "
          "values, rows and columns")
    return ok
