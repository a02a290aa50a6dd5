"""Seeded scale-tier synthesis: a deterministic ~Nx replica
of the sf0.1 test tables — 10x for the bench's second tier, the skew stress
and the sf1 recall recalibration; 100x for the two-decade scaling ladder
(tests/test_scale_smoke.py::test_x100_scaling_ladder).

Why synthesize instead of shipping data: at sf0.1 every headline query is
sub-second, so the bench gate measures Spark job overhead, not plan
quality — a quadratic regression would hide under fixed costs. The 10x
tier makes data-proportional cost visible again (per-query sf0.1 -> sf1
ratios ≲ linear) while staying generator-free and reproducible: each
source row is replicated REPLICAS times with key offsets that preserve
referential integrity (BASELINE.md §B: "scale linearly").

Design:

* Fact/dimension keys get ``rep * KEY_OFFSET`` added on BOTH sides of
  every FK edge (customer<-orders<-lineitem, part/supplier<-lineitem),
  so joins produce exactly 10x the matches — never 100x cross-replica
  matches. nation/region stay as-is (broadcast dims shared by all
  replicas, like any real multi-tenant layout).
* events offsets user_id/event_id: each replica is an independent user
  space, so as-of/range joins grow linearly in events.
* documents/embeddings reuse the scale-smoke construction
  (tests/test_scale_smoke.py): replica 0 verbatim, replicas 1..9 get a
  per-replica perturbation so they are NEAR-duplicates — adversarial for
  LSH bucket sizes, which is the failure mode worth measuring.
* Output is cached under a content-free marker: synthesis is ~a minute,
  the bench runs per-round, and the construction is deterministic, so a
  completed cache dir (_SUCCESS_SF1 marker) is reused verbatim.

Big tables are repartitioned on write so the sf1 scans parallelize like a
real multi-file dataset instead of inheriting sf0.1's file count.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

REPLICAS = 10
KEY_OFFSET = 10_000_000  # far above any sf0.1 key (max ~600k)
DOC_OFFSET = 1_000_000  # matches tests/test_scale_smoke.py

# Mixed near-dup family sizes above the x10 tier: documents with
# doc_id % MID_FAMILY_MOD == 0 replicate only MID_FAMILY_REPLICAS times, so
# the x100 tier carries families BELOW the incremental-neardup operator's
# 64-doc hot-bucket cap alongside the 100-member hot ones — the scale rung
# can then assert healthy buckets still produce candidates at the large tier
# instead of waiving the non-empty check (every-bucket-hot by construction).
# A no-op at replicas <= MID_FAMILY_REPLICAS: the x10 tier is bit-identical.
MID_FAMILY_MOD = 7
MID_FAMILY_REPLICAS = 50

# tables copied verbatim (shared broadcast dimensions)
_VERBATIM = ["region", "nation"]
# table -> (columns to offset by rep*KEY_OFFSET, output partitions)
_OFFSET_TABLES = {
    "supplier": (["s_suppkey"], None),
    "customer": (["c_custkey"], None),
    "part": (["p_partkey"], None),
    "orders": (["o_orderkey", "o_custkey"], 16),
    "lineitem": (["l_orderkey", "l_partkey", "l_suppkey"], 32),
    "events": (["event_id", "user_id"], 16),
}


def _replicate_offset(df, key_cols: list[str], replicas: int = REPLICAS):
    reps = df.sparkSession.range(replicas).withColumnRenamed("id", "__rep")
    out = df.crossJoin(F.broadcast(reps))
    for c in key_cols:
        out = out.withColumn(c, F.col(c) + F.col("__rep") * F.lit(KEY_OFFSET))
    return out.drop("__rep")


def synthesize_sf1(spark: SparkSession, base_dir: str, out_dir: str) -> str:
    """Materialize the 10x tier of ``base_dir`` (an sf0.1-shaped directory)
    into ``out_dir``; returns ``out_dir``. Idempotent: a prior COMPLETED
    synthesis (marker file) is reused; a partial one (crash mid-write) is
    re-done table-by-table via per-table atomic overwrite."""
    return synthesize_tier(spark, base_dir, out_dir, REPLICAS)


def synthesize_tier(
    spark: SparkSession, base_dir: str, out_dir: str, replicas: int
) -> str:
    """Materialize an arbitrary ``replicas``x tier of ``base_dir`` — the
    general form behind :func:`synthesize_sf1` (replicas=10) and the x100
    scaling-ladder rung (replicas=100). Key offsets are ``rep * KEY_OFFSET``
    on both sides of every FK edge, so even at replicas=100 the largest key
    stays < 1e9 (bigint-safe) and joins grow exactly linearly — never
    cross-replica. Same completion-marker idempotency as the 10x tier."""
    marker = os.path.join(out_dir, "_SUCCESS_SF1")
    if os.path.exists(marker):
        # the marker payload encodes the tier: an explicit
        # out_dir previously synthesized at a DIFFERENT replicas count must
        # re-synthesize, not silently return wrong-scale data. Same
        # cache-key self-invalidation rationale as default_tier_dir; a
        # legacy content-free marker ("ok") reads as tier-unknown and is
        # rebuilt once.
        try:
            with open(marker) as f:
                if json.load(f).get("replicas") == replicas:
                    return out_dir
        except (OSError, ValueError):
            pass
        # drop the stale marker BEFORE rewriting any table: a crash
        # mid-rebuild must leave the dir reading as incomplete, not as a
        # valid tier of the OLD scale wrapped around half-rewritten tables
        try:
            os.remove(marker)
        except OSError:  # pragma: no cover - concurrent removal
            pass
    os.makedirs(out_dir, exist_ok=True)

    def src(t):
        # through the catalog: events.parquet stores TIMESTAMP(NANOS) and a
        # raw spark.read refuses the scan; load_table normalizes it to the
        # NTZ micros every query expects (the sf1 copy is then plain NTZ)
        from s4hanaconnector_spark.catalog import load_table

        return load_table(spark, base_dir, t)

    # output file counts scale with the tier so the bigger scans parallelize
    # like a real multi-file dataset (x10 keeps its committed counts)
    scale_up = max(1, replicas // REPLICAS)

    def sink(df, t, parts=None):
        if parts:
            df = df.repartition(parts * scale_up)
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))

    for t in _VERBATIM:
        sink(src(t), t)
    for t, (keys, parts) in _OFFSET_TABLES.items():
        sink(_replicate_offset(src(t), keys, replicas), t, parts)

    reps = spark.range(replicas).withColumnRenamed("id", "rep")
    docs = src("documents")
    sink(
        docs.crossJoin(F.broadcast(reps))
        .filter(
            (F.col("rep") < MID_FAMILY_REPLICAS)
            | (F.col("doc_id") % MID_FAMILY_MOD != 0)
        )
        .select(
            (F.col("doc_id") + F.col("rep") * DOC_OFFSET).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(
                F.concat_ws(" ", F.col("text"), F.lit("rep"), F.col("rep").cast("string"))
            )
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        ),
        "documents",
        parts=16,
    )
    embs = src("embeddings")
    sink(
        embs.crossJoin(F.broadcast(reps)).select(
            (F.col("vec_id") + F.col("rep") * DOC_OFFSET).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: F.when(
                    i == 0, x + F.col("rep").cast("float") * F.lit(1e-3)
                )
                .otherwise(x)
                .cast("float"),
            ).alias("embedding"),
            "label",
        ),
        "embeddings",
        parts=8,
    )
    with open(marker, "w") as f:
        json.dump({"replicas": replicas}, f)
    return out_dir


def sf1_table_names() -> list[str]:
    """Every table the sf1 tier materializes — derived from the synthesis
    declarations so consumers (DuckDB oracle views in the parity tests)
    stay in lockstep when a table is added."""
    return [*_VERBATIM, *_OFFSET_TABLES, "documents", "embeddings"]


def default_sf1_dir(base_dir: str) -> str:
    """Cache location for the 10x tier of ``base_dir``."""
    return default_tier_dir(base_dir, REPLICAS)


def default_tier_dir(base_dir: str, replicas: int) -> str:
    """Cache location for a ``replicas``x tier of ``base_dir``.

    The key folds in:
      * the base dir — a tier synthesized from sf0.01 is never silently
        reused for a bench run against sf0.1 (which would make the
        scaling-ratio contract pass vacuously);
      * the synthesis parameters (replicas, KEY_OFFSET, table list) — a
        logic change self-invalidates the cache instead of relying on a
        hand-bumped version suffix;
      * the uid in the path — on a shared host another user can neither
        pre-poison the marker-gated cache nor collide with it.
    """
    import hashlib
    import tempfile

    params = (
        f"{replicas}|{KEY_OFFSET}|mid{MID_FAMILY_MOD}.{MID_FAMILY_REPLICAS}"
        f"|{','.join(sf1_table_names())}"
    )
    key = hashlib.md5(f"{os.path.abspath(base_dir)}|{params}".encode()).hexdigest()[:8]
    uid = os.getuid() if hasattr(os, "getuid") else 0
    return os.path.join(tempfile.gettempdir(), f"spark-graft-sf1-u{uid}-{key}")
