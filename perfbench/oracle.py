"""DuckDB compare of the `suite` workload's Spark results.

It reuses the compare of `scripts/check_oracles.py`: both sides are
canonicalized (columns sorted by name, rows sorted) and compared value by
value.
"""
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from check_oracles import TABLES, canon, values_equal  # noqa: E402


def compare_one(con, sql, result_dir):
    want = canon(con.sql(sql).df())
    got = canon(con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for col in got.columns:
        for i, (g, w) in enumerate(zip(got[col].tolist(), want[col].tolist())):
            if not values_equal(g, w):
                return f"{col}[{i}] spark={g!r} duckdb={w!r}"
    return None


def compare(tables_dir, results_dir, queries):
    """Returns [(query, ok, note)] for every query in `queries`."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = []
    for q in queries:
        if q not in oracles:
            out.append((q, False, "no oracle SQL"))
            continue
        if not os.path.isdir(os.path.join(results_dir, q)):
            out.append((q, False, "no Spark result"))
            continue
        try:
            err = compare_one(con, oracles[q], os.path.join(results_dir, q))
        except Exception as e:  # an oracle or read error is a failed check
            err = f"{type(e).__name__}: {e}"
        out.append((q, err is None, err or ""))
    return out
