"""Recompute the stored oracle answers of the pipeline workload.

Runs each pipeline query's DuckDB ``oracle_sql()`` entry over the tables
in ``perfbench/data/sf0.01`` and writes the answer to
``perfbench/oracles/<query>.parquet``. The benchmark compares against
these files instead of running DuckDB on every run.

Run from the repository root after the bundled tables or an oracle query
change::

    python3 perfbench/make_oracles.py
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def main() -> int:
    import duckdb

    from pipeline import DATA_DIR, ORACLE_DIR, QUERIES

    from k_means_in_mapreduce_spark.registry import ORACLES
    from k_means_in_mapreduce_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
    os.makedirs(ORACLE_DIR, exist_ok=True)
    for old in os.listdir(ORACLE_DIR):
        os.remove(os.path.join(ORACLE_DIR, old))
    for name in QUERIES:
        answer = con.sql(ORACLES[name]).df()
        answer.to_parquet(os.path.join(ORACLE_DIR, f"{name}.parquet"), index=False)
        print(f"{name}: {len(answer)} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
