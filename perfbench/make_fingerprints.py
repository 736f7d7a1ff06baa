#!/usr/bin/env python3
"""Regenerate perfbench/queries.json: the batch_mix query list and, per
query, the fingerprint of its DuckDB oracle answer (SparkEntry.oracleSql)
on perfbench/data/sf0.01.

Usage, from the repository root:

    python3 perfbench/make_fingerprints.py [name ...]

With no names the list is every 8th query name of SparkEntry.queries in
sorted order, as fixed when the benchmark was written; pass names to
rebuild the list from them. The list is part of the benchmark: changing
it changes what batch_mix measures.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import run  # noqa: E402

DATA = "data/sf0.01"
WARMUP = ["hotels_count", "dq_checks"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(names):
    path = os.path.join(HERE, "queries.json")
    if not names:
        with open(path) as f:
            names = sorted(json.load(f)["queries"])
    classes = run.build(run.source_hash())
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", os.pathsep.join([classes, os.path.join(run.jars_dir(), "*")]),
                        "perfbench.Harness", "workload=oracle_sql", f"queries={','.join(names)}",
                        f"out={out}"], check=True)
        with open(out) as f:
            oracle = json.load(f)
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(HERE, DATA, t)}.parquet')")
    queries = {}
    for n in sorted(names):
        fp, rows = check.fingerprint(con.execute(oracle[n]).arrow())
        queries[n] = {"fingerprint": fp, "rows": rows}
        print(f"{n}: {rows} rows {fp[:12]}", file=sys.stderr)
    with open(path, "w") as f:
        json.dump({"data": DATA, "warmup": WARMUP, "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:])
