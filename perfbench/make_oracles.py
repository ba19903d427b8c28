"""Recompute ``perfbench/oracles.json``: the DuckDB answer of every
__spark_entry__ query of the benchmark (ENGINE_QUERIES) over the committed
sf0.01 tables.

    python3 perfbench/make_oracles.py

Run from the repository root after changing ENGINE_QUERIES, the tables or
a query's ``oracle_sql()``. The benchmark only reads the stored answers, so
no run pays for an oracle.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from workloads import ENGINE_DATA, ENGINE_QUERIES, ORACLES, normalize_rows  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    for f in sorted(os.listdir(ENGINE_DATA)):
        table = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{ENGINE_DATA}/{f}')")
    sql = entry.oracle_sql()
    out = {}
    for q in ENGINE_QUERIES:
        t0 = time.perf_counter()
        res = con.execute(sql[q])
        cols = [d[0] for d in res.description]
        out[q] = {"columns": cols, "rows": normalize_rows(res.fetchall())}
        print(f"{q}: {len(out[q]['rows'])} rows in {time.perf_counter() - t0:.2f} s",
              file=sys.stderr)
    with open(ORACLES, "w", encoding="utf-8") as f:
        json.dump(out, f, separators=(",", ":"))
        f.write("\n")


if __name__ == "__main__":
    main()
