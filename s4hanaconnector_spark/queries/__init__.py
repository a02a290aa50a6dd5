"""Declared query registry — the correctness surface of the engine.

Every implemented operator from SURVEY §2 is declared here as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where expressible)
an equivalent ANSI-SQL string the DuckDB oracle runs on the same parquet
tables. ``correctness_full.py`` hash-compares the two for every declared
query at sf0.01; ``tests/test_oracle_parity.py`` does the same at sf0.001.

Determinism rules (see tests/test_oracle_parity.py, which enforces them at
sf0.001 before the driver ever sees the queries):
  * Aggregates over DOUBLE columns go through exact DECIMAL arithmetic and
    are cast back to DOUBLE at the end — float summation order differs
    between engines, decimal addition does not.
  * Column names are aliased identically on both sides (the driver sorts
    columns by name before hashing).
  * Any ORDER BY carries a unique tiebreak column so limit frontiers are
    set-deterministic.
"""

from __future__ import annotations

from s4hanaconnector_spark.queries.registry import REGISTRY, QueryDef, register  # noqa: F401
from s4hanaconnector_spark.queries import cdc as _cdc  # noqa: F401,E402

_MODULES = [_cdc]


def load_all() -> dict[str, QueryDef]:
    """Import all query modules (side-effect: registration) and return a
    copy of the full registry in module registration order."""
    from s4hanaconnector_spark.queries import analytics as _an  # noqa: F401
    from s4hanaconnector_spark.queries import jdbc_derby as _jd  # noqa: F401
    from s4hanaconnector_spark.queries import llmops as _llm  # noqa: F401
    from s4hanaconnector_spark.queries import partsupp as _ps  # noqa: F401
    from s4hanaconnector_spark.queries import surface as _surf  # noqa: F401

    return dict(REGISTRY)
