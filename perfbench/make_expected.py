#!/usr/bin/env python3
"""Rebuild ``expected_query_mix.json``: row count and canonical result
hash of every ``query_mix`` query over the committed sf0.01 fixture.

Where a query has a DuckDB oracle the expected entry is the oracle's
result, and the Spark result must agree with it; otherwise it is the
Spark result. Run from the repository root:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    from harness import Run
    from query_mix import EXPECTED, QUERY_SET, SF_DIR, result_digest
    from quacfka_spark.catalog import TABLES
    from quacfka_spark.registry import QUERIES, get_queries

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    run = Run(ROOT, "make_expected", seed=0, seconds=0, trace=False)
    table, disagree = {}, []
    try:
        run.start()
        fns = get_queries()
        for name in QUERY_SET:
            spark_rows, spark_hash = result_digest(fns[name](run.spark, SF_DIR).toPandas())
            entry = {"rows": spark_rows, "sha256": spark_hash, "source": "spark"}
            oracle = QUERIES[name].oracle
            if oracle is not None:
                rows, digest = result_digest(con.sql(oracle).df())
                entry = {"rows": rows, "sha256": digest, "source": "duckdb"}
                if (rows, digest) != (spark_rows, spark_hash):
                    disagree.append(name)
            table[name] = entry
            print(f"{name}: {entry}", file=sys.stderr)
    finally:
        run.close()
    with open(EXPECTED, "w", encoding="utf-8") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")
    if disagree:
        print(f"Spark disagrees with the oracle on: {disagree}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
