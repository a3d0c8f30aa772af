#!/usr/bin/env python3
"""Print the row count of each pinned headline query on the benchmark's
copy of the sf0.01 tables, computed by DuckDB from the registry's oracle
SQL. The counts pinned in ``headline.PINNED`` were taken this way.

Run from the repository root: ``python3 perfbench/pin_counts.py``.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from oil_wells_data_wrangling_spark.plans.registry import all_oracle_sql  # noqa: E402
from perfbench.headline import DATA_DIR, PINNED  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    for fn in sorted(os.listdir(DATA_DIR)):
        table = fn.removesuffix(".parquet")
        path = os.path.join(DATA_DIR, fn)
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    oracles = all_oracle_sql()
    for name in PINNED:
        sql = oracles.get(name)
        if sql is None:
            print(f"{name}: no oracle")
            continue
        n = con.execute(f"SELECT COUNT(*) FROM ({sql}) AS q").fetchone()[0]
        print(f"{name}: {n}")


if __name__ == "__main__":
    main()
