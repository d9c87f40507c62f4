"""Expected outputs for the corpus_dedup queries, and the output check.

Each query's expected result is its DuckDB oracle (`SparkEntry.oracleSql`,
dumped by the benchmark JVM as oracle_sql.json) run on the same parquet
files. Every engine result, written untimed after each timed op, is
compared with the repository's own tools/check.py rules (`canon`,
`cells_equal`): columns sorted by name, rows sorted by every column, then
dtypes, column names, row counts and every cell compared exactly.
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import canon, cells_equal  # noqa: E402


def expected(data_dir, work_dir, tables):
    """Run every oracle once; return {query: canonical DataFrame or error}."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{work_dir}/duckdb_tmp'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(work_dir, "oracle_sql.json")))
    by_sql = {}  # queries that must agree share one oracle (qd06/qd08)
    for sql in set(oracle.values()):
        try:
            by_sql[sql] = canon(con.execute(sql).fetchdf())
        except Exception as e:  # a broken oracle fails that query's check
            by_sql[sql] = f"oracle error: {e}"
    return {name: by_sql[sql] for name, sql in oracle.items()}


def check(out_dir, want):
    """None when the engine's output in `out_dir` matches, else the reason."""
    if isinstance(want, str):
        return want
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return "no engine output"
    got = canon(duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
    if [str(t) for t in got.dtypes] != [str(t) for t in want.dtypes]:
        return f"dtypes {list(got.dtypes)} != {list(want.dtypes)}"
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not cells_equal(a, b):
                return f"cell {c}[{i}]: {a!r} != {b!r}"
    return None
