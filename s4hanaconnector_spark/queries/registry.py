"""Registry plumbing for declared queries."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from s4hanaconnector_spark.catalog import load_table


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => driver runs rows-only check
    headline: bool = False  # included in bench.py


REGISTRY: dict[str, QueryDef] = {}

_SCRATCH_ROOT: str | None = None


def scratch_root() -> str:
    """The one per-process directory under which declared queries keep
    their scratch files (sinks, checkpoints, indexes); removed at
    interpreter exit."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="query_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    return _SCRATCH_ROOT


def register(name: str, oracle: str | None, headline: bool = False):
    """Decorator: register a declared query. Duplicate names are an error —
    a second registration would silently shadow the first in the driver's
    correctness gate (which is exactly how a redundant query once hid an
    existing one)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table."""
    return load_table(spark, sf_dir, name)
