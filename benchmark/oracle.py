"""Hash the benchmark's catalog outputs against their DuckDB oracles.

The canonical form is tools/compare.py's: DuckDB runs each query's
`SparkEntry.oracleSql` over the same parquet tables, both results are
hashed row by row with columns sorted by name and floats at full
precision, and an oracle column of a type whose canonical form differs
from Spark's int64 (HUGEINT and friends) or a type that differs from
Spark's fails.
"""
import glob
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WIDE_TYPES = ("HUGEINT", "UHUGEINT", "UBIGINT", "DECIMAL")


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for row in rows:
        h.update(("|".join(canon(row[i]) for i in order) + "\n").encode())
    return h.hexdigest()


def types(con, sql):
    return {c: ty for c, ty, *_ in con.execute(f"DESCRIBE ({sql})").fetchall()}


def compare_one(con, name, sql, files):
    if not files:
        return f"{name}: no spark output"
    o_types = types(con, sql)
    wide = [(c, t) for c, t in o_types.items() if any(w in t for w in WIDE_TYPES)]
    if wide:
        return f"{name}: oracle emits wide types {wide}"
    cur = con.execute(sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    scan = f"SELECT * FROM read_parquet({files!r})"
    s_types = types(con, scan)
    cur = con.execute(scan)
    s_cols = [d[0] for d in cur.description]
    s_rows = cur.fetchall()
    if sorted(o_cols) != sorted(s_cols):
        return f"{name}: columns spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    tdiff = [(c, s_types[c], o_types[c]) for c in s_cols if s_types[c] != o_types[c]]
    if tdiff:
        return f"{name}: type mismatch (column, spark, oracle) {tdiff}"
    if len(o_rows) != len(s_rows):
        return f"{name}: rows spark={len(s_rows)} oracle={len(o_rows)}"
    if table_hash(o_rows, o_cols) != table_hash(s_rows, s_cols):
        return f"{name}: hash mismatch over {len(o_rows)} rows"
    return None


def compare(check_dir, sf_dir):
    """Mismatch descriptions, one per checked query that does not match."""
    oracles = json.load(open(os.path.join(check_dir, "oracle.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = []
    for name, sql in sorted(oracles.items()):
        try:
            bad = compare_one(con, name, sql, glob.glob(os.path.join(check_dir, name, "*.parquet")))
        except Exception as e:  # an oracle that errors is a failed check, not a crash
            bad = f"{name}: oracle error {e}"
        if bad:
            out.append(bad)
    return out
