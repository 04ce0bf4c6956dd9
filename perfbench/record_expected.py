#!/usr/bin/env python3
"""Record the expected output fingerprints of the query workloads.

    python3 perfbench/record_expected.py

Runs each query operation of query_mix once on the
benchmark's tables, fingerprints its result, and cross-checks the result
rows against DuckDB wherever the engine declares an oracle SQL for the
query (graft.SparkEntry.oracleSql). Writes perfbench/expected.json, which
run.py compares every run's fingerprints against. A query whose rows
differ from its DuckDB oracle is not recorded: the script fails instead.
"""

import json
import os
import sys

import duckdb

import run

TABLE_NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def canonical(df):
    """Rows as a sorted list of tuples over name-sorted columns, floats at
    6 decimals and -0.0 folded, nested values rendered as text."""
    cols = sorted(df.columns)
    rows = []
    for rec in df[cols].itertuples(index=False):
        row = []
        for v in rec:
            if isinstance(v, float):
                row.append("null" if v != v else f"{round(v, 6) + 0.0:.6f}")
            elif v is None:
                row.append("null")
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return cols, sorted(rows)


def duckdb_matches(data, spark_dir, sql):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    want = con.execute(sql).fetchdf()
    got = con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").fetchdf()
    return canonical(want) == canonical(got)


def main():
    work = run.work_dir()
    os.makedirs(os.path.join(work, "logs"), exist_ok=True)
    classes, _ = run.build(work)
    data = run.tables(work)
    expected, bad = {}, []
    for workload in ("query_mix",):
        rec = run.run_jvm(work, classes, data, workload, 1, 0, 0, extra=["--record"])
        if rec["errors"]:
            sys.exit(f"{workload}: operations failed: {rec['errors']}")
        expected[workload] = {}
        for op, fp in sorted(rec["fingerprints"].items()):
            sql = rec["oracle_sql"].get(op)
            if sql is None:
                verdict = "no oracle"
            elif duckdb_matches(data, os.path.join(work, "record", op), sql):
                verdict = "equal"
            else:
                verdict = "differs"
                bad.append(f"{workload}/{op}")
            print(f"{workload:15s} {op:20s} rows={fp[0]:<7} duckdb: {verdict}")
            expected[workload][op] = {"fingerprint": fp, "duckdb": verdict}
    if bad:
        sys.exit(f"results differ from the DuckDB oracle: {bad}")
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
