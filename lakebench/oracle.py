"""Checks crawl_dedup gate results against DuckDB.

For every gate result written under <results>/<gate>/ the oracle SQL saved in
<results>/oracle_sql.json runs in DuckDB over views of the run's input
parquet files. Rows are compared sorted, with columns sorted by name and
floats compared by repr, the method of tools/compare_oracle.py.
"""
import json
import math
import os

import duckdb

TABLES = ["events", "documents"]


def canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def rows(con, rel):
    cols = sorted(rel.columns)
    return cols, con.sql(f"SELECT {', '.join(cols)} FROM rel ORDER BY ALL").fetchall()


def compare(data_dir, results_dir, log):
    """True when every written gate result matches its oracle."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    ok = True
    for name, sql in sorted(oracle.items()):
        try:
            got_cols, got = rows(con, con.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'"))
            want_cols, want = rows(con, con.sql(sql))
        except duckdb.Error as e:
            log(f"oracle {name}: {e}")
            ok = False
            continue
        same = got_cols == want_cols and len(got) == len(want) and all(
            tuple(map(canon, a)) == tuple(map(canon, b)) for a, b in zip(got, want))
        if not same:
            log(f"oracle {name}: result differs from DuckDB ({len(got)} vs {len(want)} rows)")
            ok = False
    log(f"oracle: {len(oracle)} gate results compared")
    return ok
