"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). ``correctness_full.py`` runs the same check for the whole
registry and records it in ``CORRECTNESS_FULL.json``.

All real logic lives in ``s4hanaconnector_spark``; this module only adapts
the registry to the driver's interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from s4hanaconnector_spark.queries import load_all


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's full CDC
    delta pipeline (change-view scan -> per-PK latest dedup -> outer join ->
    delete classification -> computed projection; SURVEY §2.1 O10-O14)."""
    reg = load_all()
    return reg["cdc_delta"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every SQL-expressible declared query."""
    return {name: q.oracle for name, q in load_all().items() if q.oracle is not None}
