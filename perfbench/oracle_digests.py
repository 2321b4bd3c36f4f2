"""Derive the catalog workloads' expected digests from the DuckDB oracle.

Replays each row's committed oracle SQL (SparkEntry.oracleSql, dumped by
the harness's DumpOracle main) in DuckDB over the sf0.1 parquet tables,
the same replay the repository's oracle check does, and writes one line
per row to expected/catalog.tsv: name, sorted columns, rows, hex digest.
Graft's own output is never used.

Usage: python3 perfbench/oracle_digests.py <oracle_sql.json> [table_dir]
"""
import json
import os
import sys

import duckdb

from digest import digest

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sql_path, table_dir=os.path.join(HERE, "data", "sf0.1")):
    oracle = json.load(open(sql_path))
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = os.path.join(HERE, "expected", "catalog.tsv")
    lines = {}
    if os.path.exists(out):
        for line in open(out):
            if line.strip():
                lines[line.split("\t", 1)[0]] = line.rstrip("\n")
    for name, sql in sorted(oracle.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        c, n, h = digest(cols, cur.fetchall())
        lines[name] = f"{name}\t{','.join(c)}\t{n}\t{h}"
        print(lines[name], flush=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        fh.write("".join(lines[k] + "\n" for k in sorted(lines)))


if __name__ == "__main__":
    main(*sys.argv[1:])
