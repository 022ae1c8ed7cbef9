#!/usr/bin/env python3
"""Regenerates expected/headline_sf0.1.tsv: the DuckDB oracle's result
hash of each headline query over perfbench/data/sf0.1, in the canonical
form of tools/check.py (columns sorted by name, cells str()-rendered,
NULL for null, '|' between cells, newline between rows, sha256[:16]).
The engine under test only supplies the oracle SQL text.

Run from the repository root: python3 perfbench/oracle.py
"""
import glob
import hashlib
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import duckdb  # noqa: E402

DATA = "perfbench/data/sf0.1"
OUT = "perfbench/expected/headline_sf0.1.tsv"


def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    text = "\n".join("|".join("NULL" if r[i] is None else str(r[i]) for i in order)
                     for r in rows)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def main():
    classes = build.build()
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    sql = json.loads(subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.OracleSql"],
        check=True, capture_output=True, text=True).stdout.strip().splitlines()[-1])
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{DATA}/*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    lines = [f"# DuckDB {duckdb.__version__} result hashes over {DATA}; "
             "regenerate with python3 perfbench/oracle.py",
             "# query\thash\trows"]
    for name, q in sql.items():
        res = con.sql(q)
        rows = res.fetchall()
        lines.append(f"{name}\t{canon(rows, res.columns)}\t{len(rows)}")
    with open(OUT, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {len(sql)} hashes to {OUT}")


if __name__ == "__main__":
    main()
