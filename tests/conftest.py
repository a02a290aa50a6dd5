from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# Runtime confs session.get_spark sets: any in-process code path that calls
# get_spark() against the EXISTING session (cli.main() in test_cli, a query
# helper) MUTATES the live SparkSession's RuntimeConf — getOrCreate applies
# builder configs to the session it returns. Without restoration, one such
# call silently converts the "vanilla" fixture into an engine-configured
# session for every test collected after it, and the suite's core
# portability gate (queries must not rely on get_spark confs, because the
# driver injects a PLAIN session) turns into a false green.
_VANILLA_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.legacy.parquet.nanosAsLong",
)
_vanilla_snapshot: dict[str, str | None] = {}


@pytest.fixture(scope="session")
def spark():
    # Deliberately a VANILLA session, NOT session.get_spark: the driver's
    # correctness harness injects its own plain SparkSession, so every query
    # must be self-sufficient (no reliance on get_spark confs like
    # nanosAsLong / UTC / Arrow). Only infra knobs here — parallelism,
    # memory, UI — none of which may affect results. Parallelism follows
    # the host (SPARK_GRAFT_CPUS, else every core), like session.get_spark.
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("s4spark-tests-vanilla")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    for k in _VANILLA_KEYS:
        _vanilla_snapshot[k] = s.conf.get(k, None)
    yield s


@pytest.fixture(autouse=True)
def _restore_vanilla_confs(request):
    """Undo any get_spark() RuntimeConf mutation before the next test (see
    _VANILLA_KEYS). Only acts when the session fixture exists."""
    yield
    if "spark" not in request.fixturenames or not _vanilla_snapshot:
        return
    s = request.getfixturevalue("spark")
    for k, orig in _vanilla_snapshot.items():
        cur = s.conf.get(k, None)
        if cur != orig:
            if orig is None:
                s.conf.unset(k)
            else:
                s.conf.set(k, orig)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for name in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    yield con
    con.close()
