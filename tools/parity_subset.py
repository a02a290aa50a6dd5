#!/usr/bin/env python
"""Targeted oracle parity for a named subset of declared queries — the
fast inner loop after a change that touches specific operators
(full-registry `correctness_full.py` writes the whole-registry artifact).

Usage: python tools/parity_subset.py QUERY [QUERY ...] [--sf SF_DIR]

The session is sized from the host: ``local[$SPARK_GRAFT_CPUS]`` (default
all cores) with a ``$SPARK_GRAFT_DRIVER_MEM`` heap (default 6g). Results
do not depend on either.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    import duckdb

    args = [a for a in sys.argv[1:]]
    sf = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]
    names = args
    import __spark_entry__ as e
    from pyspark.sql import SparkSession
    from tests.parity import assert_parity

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("parity-subset")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "6g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    con = duckdb.connect()
    for n in TABLES:
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM '{sf}/{n}.parquet'")
    qs, oracles = e.queries(), e.oracle_sql()
    failed = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf)
            if name in oracles:
                rows = assert_parity(sdf, con, oracles[name], name)
                print(f"OK   {name}: {rows} rows parity-exact "
                      f"({time.time()-t0:.1f}s)", flush=True)
            else:
                print(f"SKIP {name}: no oracle ({sdf.count()} rows)", flush=True)
        except Exception as ex:
            failed += 1
            print(f"FAIL {name}: {repr(ex)[:300]}", flush=True)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
