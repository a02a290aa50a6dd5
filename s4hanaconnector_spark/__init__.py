"""s4hanaconnector_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of rtdi/S4HanaConnector.

The reference (see /root/reference, SURVEY.md) is a trigger-based CDC
connector: it generates SQL pushed down to SAP HANA (change-log dedup, delta
outer-join, delete classification, partition-parallel initial load) and ships
rows to Kafka. This package re-expresses that entire surface — plus a
large-scale LLM-data-pipeline extension (dedup, similarity search, text
analysis, multimodal columns) — as idiomatic PySpark DataFrame compositions
that Catalyst can optimize, designed for 100 TB-scale execution.

Layout:
    session         SparkSession factory (AQE on, UTC, arrow)
    catalog         test-table loaders / temp-view registration
    types           HANA type-string -> Spark type mapping (SURVEY §1.3)
    mapping         TableMapping JSON spec <-> StructType + column exprs
    operators/      cdc, relational, nesting, dedup, similarity, text,
                    multimodal
    functions/      HANA scalar-function compatibility surface
    sources/        synthetic deterministic CDC fixtures (pklog etc.)
    streaming/      Structured Streaming: changes_stream, windowed aggs,
                    stateful dedup, transactional foreachBatch sink
    profile         run one query, read per-operator metrics off its final
                    AQE plan (s4spark plan, PLANS.md, bench.py)
"""

__version__ = "0.1.0"

from s4hanaconnector_spark.session import get_spark  # noqa: F401
