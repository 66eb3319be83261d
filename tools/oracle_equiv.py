#!/usr/bin/env python3
"""Prove two oracle_sql.json dumps give the same results.

Lists the queries whose oracle text differs once whitespace is
collapsed, runs both texts of each in DuckDB over the sf-dir parquet
tables, and compares columns, DuckDB types, row counts and
compare.py's canonical hash. A refactor of oracle SQL (a folded
snippet, a macro) must leave every result unchanged.

Usage: python3 tools/oracle_equiv.py <parent oracle_sql.json> <change oracle_sql.json> <sf_dir>
Exits 1 on a name present on one side only or on any result difference.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare import ORACLE_BUDGET_S, described_types, run_budgeted, table_hash

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def result(con, sql):
    types = described_types(con, sql)
    cols, rows, _ = run_budgeted(con, sql, ORACLE_BUDGET_S)
    return sorted(types.items()), len(rows), table_hash(rows, cols)


def main(parent_json, change_json, sf_dir):
    parent, change = json.load(open(parent_json)), json.load(open(change_json))
    bad = sorted(set(parent) ^ set(change))
    for name in bad:
        print(f"ONLY-ONE-SIDE {name}")
    collapse = lambda s: " ".join(s.split())
    changed = sorted(n for n in set(parent) & set(change)
                     if collapse(parent[n]) != collapse(change[n]))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name in changed:
        try:
            a, b = result(con, parent[name]), result(con, change[name])
        except Exception as e:
            print(f"ERROR {name}: {e}"); bad.append(name); continue
        if a == b:
            print(f"SAME {name} ({a[1]} rows)")
        else:
            print(f"DIFF {name}: parent {a[1]} rows {a[2][:12]}, change {b[1]} rows {b[2][:12]}"
                  + ("" if a[0] == b[0] else f"; types {a[0]} vs {b[0]}"))
            bad.append(name)
    print(f"\n{len(changed)} oracle texts differ, {len(bad)} with a different result")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
