#!/usr/bin/env python3
"""Local replica of the driver's t2 DuckDB-oracle gate (builder tooling only,
not part of the library). Usage:
  python3 tools/check_oracle.py <sfDir> <verifyOutDir> [query ...]
Compares each verify parquet dump against the oracle SQL run by DuckDB on
views named after the testdata tables, strictly: schema (column names),
row count, and exact values (after sorting columns by name). Every entry
of Verify's failures.json (a query that threw) counts as bad."""
import os, sys, json, math, decimal
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

class ComplexValue(Exception):
    pass

def norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        # The driver's pandas-based comparator cannot hash array cells
        # (round-1 'unhashable type: numpy.ndarray') — mirror that here so
        # a list-valued output fails locally before it reaches the driver.
        raise ComplexValue("array-valued cell (driver comparator rejects)")
    return v

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures_path = f"{out_dir}/failures.json"
    failures = (json.load(open(failures_path))
                if os.path.exists(failures_path) else {})
    n_ok = n_bad = 0
    for name, msg in sorted(failures.items()):
        if only and name not in only:
            continue
        print(f"FAIL {name}: query threw: {msg}")
        n_bad += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only or name in failures:
            continue
        try:
            got_rel = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = [d[0] for d in got_rel.description]
            got = got_rel.fetchall()
            exp_rel = con.execute(sql)
            exp_cols = [d[0] for d in exp_rel.description]
            exp = exp_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_bad += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name}: cols spark={sorted(got_cols)} duck={sorted(exp_cols)}")
            n_bad += 1
            continue
        gi = [got_cols.index(c) for c in sorted(got_cols)]
        ei = [exp_cols.index(c) for c in sorted(exp_cols)]
        try:
            g = [tuple(norm(r[i]) for i in gi) for r in got]
            e = [tuple(norm(r[i]) for i in ei) for r in exp]
        except ComplexValue as cv:
            print(f"FAIL {name}: {cv}")
            n_bad += 1
            continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows spark={len(g)} duck={len(e)}")
            n_bad += 1
            continue
        if g == e:
            print(f"ok   {name} ({len(g)} rows)")
            n_ok += 1
        elif sorted(map(repr, g)) == sorted(map(repr, e)):
            print(f"WARN {name}: values match but row ORDER differs")
            n_bad += 1
        else:
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(g, e)) if a != b]
            print(f"FAIL {name}: {len(diffs)}/{len(g)} rows differ; first: "
                  f"row {diffs[0][0]}\n  spark={diffs[0][1]}\n  duck ={diffs[0][2]}")
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} bad ==")
    sys.exit(1 if n_bad else 0)

main()
