"""Oracle parity for declared queries: run each against its DuckDB oracle.

Usage: ``python correctness_full.py [NAME ...] [--sf SF_DIR]`` (default
the sf0.01 fixtures).

With no names it runs EVERY declared query and writes
``CORRECTNESS_FULL.json`` — the in-repo, auditable parity record for the
whole registry. With names it runs just those (the inner loop after a change
that touches specific operators), prints OK/FAIL per name and writes no
artifact. Exit status 1 on any failure.

The session is sized from the host: ``local[$SPARK_GRAFT_CPUS]`` (default
all cores) with a ``$SPARK_GRAFT_DRIVER_MEM`` heap (default a share of host
memory). Results do not depend on either.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", metavar="NAME")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", metavar="SF_DIR")
    args = ap.parse_args()
    sf = args.sf
    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    from s4hanaconnector_spark.session import driver_memory
    from tests.parity import assert_parity

    # a PLAIN session, mirroring the driver's injected one — running under
    # get_spark's tuned confs (UTC, nanosAsLong, Arrow) would let this
    # check stay green for queries that only work WITH those confs,
    # exactly the portability gap it exists to audit. Only result-neutral
    # infra knobs here.
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("correctness-plain")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    con = duckdb.connect()
    for n in TABLES:
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM '{sf}/{n}.parquet'")
    qs, oracles = e.queries(), e.oracle_sql()
    names = args.names or list(qs)
    out: dict[str, dict] = {}
    failed = 0
    for name in names:
        t0 = time.time()
        rec: dict = {"ok": False, "oracle": name in oracles, "err": None}
        try:
            sdf = qs[name](spark, sf)
            if name in oracles:
                # assert_parity returns the verified row count — re-running
                # the oracle for a separate count(*) would execute every
                # (sometimes expensive) oracle twice
                rec["rows"] = assert_parity(sdf, con, oracles[name], name)
            else:
                rec["rows"] = sdf.count()
            rec["ok"] = True
        except Exception as ex:  # record, keep going
            failed += 1
            rec["err"] = repr(ex)[:400]
        rec["sec"] = round(time.time() - t0, 2)
        out[name] = rec
        if rec["ok"]:
            kind = "parity-exact" if rec["oracle"] else "rows-only, no oracle"
            print(f"OK   {name}: {rec['rows']} rows {kind} ({rec['sec']}s)", flush=True)
        else:
            print(f"FAIL {name}: {rec['err']}", flush=True)
    spark.stop()
    n_oracle = sum(1 for r in out.values() if r["oracle"] and r["ok"])
    print(f"{len(names) - failed}/{len(names)} ok ({n_oracle} oracle-verified)")
    if not args.names:
        artifact = {
            "sf_dir": sf,
            "n_queries": len(qs),
            "n_ok": len(qs) - failed,
            "n_fail": failed,
            # how many of the oks were actually ORACLE-VERIFIED (vs rows-only
            # smoke for non-SQL-expressible queries) — the summary must not
            # conflate "parity-proven" with "didn't crash"
            "n_oracle_checked": n_oracle,
            "queries": out,
        }
        # anchor to the repo, not the cwd: run from anywhere, the committed
        # artifact is the one that updates
        with open(os.path.join(ROOT, "CORRECTNESS_FULL.json"), "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print("wrote CORRECTNESS_FULL.json")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
