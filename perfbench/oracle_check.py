#!/usr/bin/env python3
"""Check expected.json against DuckDB on the benchmark's own input.

    python3 perfbench/oracle_check.py

For every query in the workloads that has an entry in
`SparkEntry.oracleSql`, run the oracle SQL in DuckDB over the same Parquet
tables, fingerprint the result with `fingerprint.py` and compare it with
the expected fingerprint. Writes `oracle_check.json` beside this file,
including the queries that have no oracle, and exits 1 on a disagreement.
"""
import json
import os
import sys
import time

import duckdb

import run
from fingerprint import fingerprint

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", run.CONF["sf_dir"])
    catalog = run.run_jvm(run.classpath(), ["--mode", "catalog"], "catalog")
    expected = json.load(open(run.EXPECTED))["queries"]
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '6GB'")
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, sf, t))
    mixes = {q: w for w, conf in run.CONF["workloads"].items() for q in conf["queries"]}
    agree, disagree, no_oracle = [], {}, []
    for q in sorted(mixes):
        sql = catalog["oracles"].get(q)
        if sql is None:
            no_oracle.append(q)
            continue
        t0 = time.time()
        rel = con.execute(sql)
        got = fingerprint([d[0] for d in rel.description], rel.fetchall())
        want = expected[q]["fingerprint"]
        print("%-5s %-28s %s  %.1fs" % ("ok" if got == want else "DIFF", q, got, time.time() - t0))
        if got == want:
            agree.append(q)
        else:
            disagree[q] = {"duckdb": got, "expected": want}
    out = {"sf_dir": sf, "duckdb": duckdb.__version__, "agree": agree,
           "disagree": disagree, "no_oracle": no_oracle}
    json.dump(out, open(os.path.join(run.HERE, "oracle_check.json"), "w"), indent=1)
    print("%d agree, %d disagree, no oracle: %s" % (len(agree), len(disagree), no_oracle))
    sys.exit(1 if disagree else 0)


if __name__ == "__main__":
    main()
