#!/usr/bin/env python3
"""Cross-check of the committed digests against the DuckDB oracle.

For every workload it generates the seed-1 data set, has the harness dump
the default-argument forms of its operations (the registered queries) as
parquet together with `SparkEntry.oracleSqlFor`'s SQL and their digests,
then checks that

  - each dumped digest equals the one committed in perfbench/expected/,
  - each dumped result equals the oracle SQL's result under DuckDB
    (rows compared after sorting; floats at 9 significant digits, the
    precision the digests use).

    python3 perfbench/oracle_check.py        # exit 0 = all agree

Run from the root of a checkout, after the benchmark has built once.
"""
import datetime
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import run  # noqa: E402  (the benchmark runner: datasets and paths)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        col = df[c]
        if str(col.dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(col).dt.strftime("%Y-%m-%d %H:%M:%S")
        else:
            df[c] = [
                v.strftime("%Y-%m-%d %H:%M:%S")
                if isinstance(v, (datetime.date, datetime.datetime))
                else f"{v:.9g}" if isinstance(v, float)
                else str(v) for v in col]
    return sorted(map(tuple, df.astype(str).values.tolist())), list(df.columns)


def main():
    failures = 0
    for workload in sorted(run.DATASETS):
        base = os.path.join(run.WORK, "oracle", workload)
        data = os.path.join(base, "data")
        dump = os.path.join(base, "dump")
        if not os.path.isdir(data):
            run.gen(data, workload, 1, None)
        subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", workload, "--seed", "1", "--seconds", "1",
                        "--mode", "dump", "--out", dump, "--data", data],
                       check=True)
        with open(os.path.join(BENCH, "expected", run.DATASETS[workload][1])) as f:
            expected = json.load(f)
        with open(os.path.join(dump, "dump.json")) as f:
            dumped = json.load(f)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data}/{t}.parquet/*.parquet')")
        for q, d in sorted(dumped.items()):
            verdict = []
            if expected.get(d["key"]) != d["digest"]:
                verdict.append(f"digest {d['digest']} != committed "
                               f"{expected.get(d['key'])}")
            if d["sql"] is None:
                verdict.append("no oracle SQL")
            else:
                spark_rows, spark_cols = norm(
                    pd.read_parquet(os.path.join(dump, q)))
                duck_rows, duck_cols = norm(con.execute(d["sql"]).df())
                if spark_cols != duck_cols:
                    verdict.append(f"columns {spark_cols} != {duck_cols}")
                elif spark_rows != duck_rows:
                    verdict.append(f"rows differ ({len(spark_rows)} spark, "
                                   f"{len(duck_rows)} duckdb)")
            bad = [v for v in verdict if v != "no oracle SQL"]
            failures += bool(bad)
            print(f"{'FAIL' if bad else 'PASS'} {workload} {q} [{d['key']}] "
                  f"{'; '.join(verdict)}")
    print(f"{failures} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
