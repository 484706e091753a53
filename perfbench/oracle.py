"""DuckDB oracle for the benchmark: runs each requested SQL statement over
the generated tables and writes its result as parquet, so the harness can
compare graft's outputs with an independent engine.

Usage: python3 oracle.py <data_dir> <requests.json> <out_dir>
(requests.json maps a result name to its SQL; tables are named as in
graft.Tables.names.)
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main(data, requests, out):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for name, sql in json.load(open(requests)).items():
        target = os.path.join(out, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{target}' (FORMAT PARQUET)")


if __name__ == "__main__":
    main(*sys.argv[1:4])
