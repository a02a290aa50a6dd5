"""Driver-portability regression tests.

The correctness harness injects its own plain SparkSession (no
``session.get_spark`` confs), so loaders and queries must be
self-sufficient. ``spark.newSession()`` gives a FRESH SQLConf sharing the
JVM — the strictest reproduction of "someone else's session" available
in-process (VERDICT r1: events.parquet TIMESTAMP(NANOS) died with
PARQUET_TYPE_ILLEGAL on a plain session because nanosAsLong was only set
at get_spark time).
"""

from __future__ import annotations

from pyspark.sql import types as T


def test_events_loads_on_fresh_session(spark, sf_dir):
    fresh = spark.newSession()
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"

    from s4hanaconnector_spark.catalog import load_table

    df = load_table(fresh, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
    assert df.count() > 0


def test_events_query_on_fresh_session(spark, sf_dir, duck):
    """One full events-based oracle query through a fresh-conf session —
    the shape that once failed under a plain driver session."""
    fresh = spark.newSession()
    from s4hanaconnector_spark.queries import load_all
    from tests.parity import assert_parity

    q = load_all()["events_tumbling_window"]
    assert_parity(q.fn(fresh, sf_dir), duck, q.oracle, "events_tumbling_window")


def test_events_stream_loads_on_fresh_session(spark, sf_dir):
    fresh = spark.newSession()
    from s4hanaconnector_spark.catalog import load_table_stream

    df = load_table_stream(fresh, sf_dir, "events")
    assert df.isStreaming
    assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
