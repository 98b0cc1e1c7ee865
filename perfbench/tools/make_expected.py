#!/usr/bin/env python3
"""Regenerate perfbench/data/hotset_expected.json: run each hotset query's
DuckDB oracle SQL (as graft's SparkEntry.oracleSql states it) over the
parquet tables in perfbench/data/hotset and store the rows.

    python3 perfbench/tools/make_expected.py

Needs the duckdb Python package. Run it only when the testdata or an
oracle changes; the benchmark itself never needs DuckDB.
"""
import decimal
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import run  # noqa: E402


def cell(v):
    return float(v) if isinstance(v, decimal.Decimal) else v


def main():
    import duckdb
    cp = run.build.build()
    work = os.path.join(run.ROOT, ".bench_run", "make-expected")
    os.makedirs(work, exist_ok=True)
    try:
        out = os.path.join(work, "oracle.json")
        rc, _ = run.run_jvm(run.java_cmd(cp, work, ["--mode", "dump-oracle", "--out", out]), 300)
        if rc != 0:
            raise SystemExit("dumping the oracle SQL failed")
        oracle = json.load(open(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(BENCH, "data", "hotset")
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(data)):
        name = f[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(data, f)}')")
    expected = {}
    for q, sql in oracle.items():
        rel = con.execute(sql)
        cols = [d[0] for d in rel.description]
        expected[q] = {"columns": cols, "rows": [[cell(v) for v in r] for r in rel.fetchall()]}
        print(f"{q}: {len(expected[q]['rows'])} rows", file=sys.stderr)
    with open(os.path.join(BENCH, "data", "hotset_expected.json"), "w") as f:
        json.dump(expected, f, separators=(",", ":"))
        f.write("\n")


if __name__ == "__main__":
    main()
