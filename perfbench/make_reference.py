"""Rebuild ``reference.json``: the expected output of every query operation.

    python3 perfbench/make_reference.py

Runs each operation of the query workloads once on the generated fixture
and records what the per-run check compares (``run.output_signature``): a
query key's row count and order-insensitive value hash, a memo index
build's row count. A key with a DuckDB oracle is first compared against it
row for row (``tests/oracle.compare``) and recorded with source ``oracle``;
the memo index builds have no oracle and record this commit's output
(``output``).
Any oracle mismatch aborts without writing the file.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from perfbench import datagen, run, workloads

    args = run.parse_args(["--workload", "reference", "--seed", "0", "--seconds", "0"])
    run.prepare_environment(args)
    sf_dir = datagen.ensure(os.path.join(run.BUILD, "data"), workloads.SF)

    import duckdb

    from cloud2sql_spark.catalog import TABLES
    from cloud2sql_spark.queries.extensions import clear_shingle_cache
    from cloud2sql_spark.registry import oracle_sql, queries
    from cloud2sql_spark.session import get_spark
    from tests.oracle import compare

    spark = get_spark("perfbench-reference", cpus=len(os.sched_getaffinity(0)))
    registry, oracles = queries(), oracle_sql()
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    out: dict = {"data_version": datagen.DATA_VERSION, "sf": workloads.SF,
                 "source": {}, "queries": {}}
    clear_shingle_cache()
    keys = workloads.MEMO_BUILDS + workloads.QUERY_ITERATIVE + workloads.QUERY_INTERACTIVE
    for key in keys:
        if key.startswith("memo:"):
            df = workloads.memo_frames(spark, sf_dir, key)
        else:
            df = registry[key](spark, sf_dir)
        if key in oracles:
            compare(df, con, oracles[key], key)
        out["source"][key] = "oracle" if key in oracles else "output"
        out["queries"][key] = run.output_signature(key, df)
        print(key, out["queries"][key], out["source"][key], flush=True)
    spark.stop()
    with open(run.REFERENCE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
