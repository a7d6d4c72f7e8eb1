"""Seeded inputs of the benchmark.

The inputs are the engine's sf0.01 test fixtures (copied under
perfbench/fixture/sf0.01, read-only) with every key column shifted by a
seed-derived offset, the way graft.BenchScale replicates them. Keys shift
together, so each table's rows, value distributions and join relationships
are the fixture's own: every seed serves the fixture's workload, while the
keys, results and digests differ from seed to seed. A table is written as
<dir>/<table>.parquet/part-0.parquet with the fixture's physical types.
"""
import os
import shutil

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")

# The fixture's key columns; keys shift together, so joins still hold.
KEY_COLS = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}
TABLES = sorted(KEY_COLS)

# Fixture tables each workload reads, and how many key-disjoint copies.
WORKLOAD_INPUTS = {
    "dashboard": (TABLES, 1),
    "ingest": (["events"], 2),
}

# Every fixture key is below COPY_STRIDE; copy i of a replicated table adds
# i * COPY_STRIDE, so the copies' keys are disjoint.
COPY_STRIDE = 100000


def key_shift(seed):
    """Key offset of a seed; room for 100 copies between two seeds."""
    return (1 + seed % 100000) * 100 * COPY_STRIDE


def _select(table, seed, copy):
    k = key_shift(seed) + copy * COPY_STRIDE
    src = os.path.join(FIXTURE, f"{table}.parquet")
    cols = KEY_COLS[table]
    replace = (" REPLACE (" + ", ".join(f"{c} + {k} AS {c}" for c in cols)
               + ")") if cols else ""
    return f"SELECT *{replace} FROM read_parquet('{src}')"


def generate(input_dir, workload, seed):
    """Writes the workload's tables for `seed`; returns rows, bytes and
    files of each."""
    names, copies = WORKLOAD_INPUTS[workload]
    shutil.rmtree(input_dir, ignore_errors=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    out = []
    for t in names:
        d = os.path.join(input_dir, f"{t}.parquet")
        os.makedirs(d)
        f = os.path.join(d, "part-0.parquet")
        sql = " UNION ALL ".join(_select(t, seed, i) for i in range(copies))
        con.execute(f"COPY ({sql}) TO '{f}' (FORMAT PARQUET)")
        rows = con.sql(f"SELECT count(*) FROM read_parquet('{f}')").fetchone()[0]
        out.append({"table": t, "rows": rows, "bytes": os.path.getsize(f),
                    "files": 1})
    con.close()
    return out


def digest(input_dir, table):
    """Order-independent content digest of a written table."""
    con = duckdb.connect()
    h = con.sql(f"SELECT sum(hash(t)) FROM read_parquet("
                f"'{input_dir}/{table}.parquet/*.parquet') t").fetchone()[0]
    con.close()
    return f"{table}:{h}"


def selftest(work):
    """The same seed must give identical input digests, another seed other
    digests for every table with keys."""
    def digests(seed, d):
        generate(d, "dashboard", seed)
        return [digest(d, t) for t in TABLES]
    a = digests(1, os.path.join(work, "a"))
    b = digests(1, os.path.join(work, "b"))
    c = digests(2, os.path.join(work, "c"))
    keyed = [(x, y) for t, x, y in zip(TABLES, a, c) if KEY_COLS[t]]
    same = a == b
    other = all(x != y for x, y in keyed)
    print(f"{'PASS' if same else 'FAIL'} same seed gives identical input "
          f"digests ({' '.join(a)})")
    print(f"{'PASS' if other else 'FAIL'} another seed gives other input "
          "digests")
    return same and other
