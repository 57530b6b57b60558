#!/usr/bin/env python3
"""Record the analytics workload's expected results, cross-checked once
against DuckDB.

    python3 perfbench/crosscheck.py        # from the repository root

Runs every suite query on perfbench/data/sf0.01 through Spark
(perfbench.Expected), then runs each query's DuckDB SQL on the same
parquet files and compares, per query, the column names and the canonical
digest (scripts/check.py's rule) of the DuckDB result with the ones the
benchmark computes in Scala. When every checkable query agrees, it writes
perfbench/expected/analytics.json: the row count and column names of every
query and the digest of the DuckDB-checked ones.
Queries without DuckDB SQL are checked by row count only.

A development tool: it needs the duckdb and pandas Python packages, which
the benchmark run itself does not use.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "scripts"))
import run  # noqa: E402  (the benchmark's build step)
from check import canon  # noqa: E402  (the repository's digest rule)

DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    run.build()
    with open(run.LAUNCHER) as fh:
        launch = [l for l in fh.read().splitlines() if l]
    work = os.path.join(ROOT, ".bench_tmp", "crosscheck")
    shutil.rmtree(work, ignore_errors=True)
    dump, tmp = os.path.join(work, "dump"), os.path.join(work, "tmp")
    os.makedirs(dump)
    os.makedirs(tmp)
    subprocess.run(["java", f"-Xmx{run.HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] +
                   launch + ["perfbench.Expected", DATA, dump, tmp], check=True, cwd=ROOT)
    digests = json.load(open(os.path.join(dump, "digests.json")))
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    expected, bad = {}, 0
    for name, got in digests.items():
        entry = {"rows": got["rows"], "columns": got["columns"], "digest": None}
        if name in oracle:
            duck = con.execute(oracle[name]).df()
            ok = (len(duck) == got["rows"] and sorted(duck.columns) == sorted(got["columns"])
                  and canon(duck) == got["digest"])
            print(f"{'OK ' if ok else 'BAD'} {name}: {got['rows']} rows, spark {got['digest']}, "
                  f"duckdb {canon(duck)} ({len(duck)} rows); columns {sorted(got['columns'])}, "
                  f"duckdb {sorted(duck.columns)}")
            if ok:
                entry["digest"] = got["digest"]
            else:
                bad += 1
        else:
            print(f"ROWS {name}: {got['rows']} rows (no DuckDB SQL)")
        expected[name] = entry
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit(f"{bad} queries disagree with DuckDB; expected results not written")
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", "analytics.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
