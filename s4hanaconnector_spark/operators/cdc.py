"""CDC core operators — the reference's delta pipeline re-expressed as
Catalyst-optimizable DataFrame compositions.

Reference shape (the single most important composition in the repo,
S4HanaTableMapping.java:444-471):

    SELECT CASE WHEN "L1"."pk1" IS NULL THEN 'D' ELSE 'A' END AS _change_type,
           l."_transactionid", l."pk"..., "L1"."col" AS alias...
    FROM (SELECT max(_transactionid) AS _transactionid, pk...
          FROM <T>_CHANGE_VIEW
          WHERE _transactionid > ? AND _transactionid <= ?
          GROUP BY pk...) l
    LEFT OUTER JOIN "<schema>"."<T>" AS "L1" ON l.pk = "L1".pk ...

Scale notes (100 TB design):
  * The dedup GROUP BY runs BEFORE the join (agg-before-join) so the join's
    left side is only the distinct changed PKs — Catalyst will not move an
    aggregate through a join for us, so this plan shape is constructed
    explicitly (SURVEY §4).
  * ``strategy="outer"`` is the literal reference shape: one pass over the
    source, shuffle both sides on PK. On a real cluster, bucket the source
    table by PK so this join is shuffle-free on the big side.
  * ``strategy="broadcast"`` is the scale path when the delta is small
    relative to the snapshot (the normal CDC regime): the source is scanned
    once, as the probe side of a left-semi join against the broadcast
    changed keys, and the few surviving rows are broadcast into the
    reference's own outer join from the deduped log. Both broadcasts are
    bounded by the changed keys; the source is never shuffled and never
    a build side. The output equals ``strategy="outer"``; only the physical
    plan differs.
  * PK values ride the change log as strings (PKLOG pk1..pk6 nvarchar(256),
    S4HanaProducer.java:99-111); the change view casts them back to the
    source PK types so joins compare natively instead of casting the 100 TB
    side to string.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from s4hanaconnector_spark.mapping import TableMapping

MAX_LONG = 9223372036854775807  # Long.MAX_VALUE sentinel (S4HanaProducer.java:326)

PKLOG_COLUMNS = [
    "change_ts",
    "schema_name",
    "change_type",
    "pk1",
    "pk2",
    "pk3",
    "pk4",
    "pk5",
    "pk6",
    "transactionid",
    "transaction_seq",
    "table_name",
]


# ---------------------------------------------------------------------------
# O10 — change view: projection+filter+rename over the shared change log
# ---------------------------------------------------------------------------
def change_view(
    pklog: DataFrame,
    table_name: str,
    schema_name: str,
    pk_names: list[str],
    pk_types: list[str] | None = None,
) -> DataFrame:
    """Per-table view of the shared PKLOG (S4HanaTableMapping.java:407-442):
    ``SELECT PK1 AS "<pk>", ..., transactionid AS _transactionid FROM pklog
    WHERE table_name = ? AND schema_name = ?``.

    ``pk_types`` (Spark DDL strings, e.g. ``["bigint"]``) cast the
    stringified log PKs back to source types; comparison then happens in the
    native type (deterministic round-trip — SURVEY §7 risk list).
    """
    cols: list[Column] = []
    for i, pk in enumerate(pk_names):
        c = F.col(f"pk{i + 1}")
        if pk_types:
            c = c.cast(pk_types[i])
        cols.append(c.alias(pk))
    cols.append(F.col("transactionid").alias("_transactionid"))
    return pklog.filter(
        (F.col("table_name") == table_name) & (F.col("schema_name") == schema_name)
    ).select(cols)


# ---------------------------------------------------------------------------
# O11 / E5 — latest change per PK (agg-before-join dedup)
# ---------------------------------------------------------------------------
def latest_by_key(df: DataFrame, keys: list[str], ord_col: str = "_transactionid") -> DataFrame:
    """Collapse N changes of one row into 1 (S4HanaTableMapping.java:454-461):
    ``SELECT max(ord) AS ord, keys FROM df GROUP BY keys``.

    Hash aggregate with map-side partial aggregation — at scale this shrinks
    the change feed to distinct keys before anything touches the snapshot.
    """
    return df.groupBy(*keys).agg(F.max(ord_col).alias(ord_col))


def delta_range(cv: DataFrame, lo: int, hi: int) -> DataFrame:
    """Incremental range predicate ``_transactionid > lo AND <= hi``
    (S4HanaTableMapping.java:458) — pushed into the scan by Catalyst."""
    return cv.filter((F.col("_transactionid") > lo) & (F.col("_transactionid") <= hi))


# ---------------------------------------------------------------------------
# O13 / E6 — delete classification
# ---------------------------------------------------------------------------
def classify_change(exists_col: Column) -> Column:
    """``CASE WHEN <source pk> IS NULL THEN 'D' ELSE 'A' END AS _change_type``
    (S4HanaTableMapping.java:448-450): a changed PK that no longer exists in
    the source is a delete; everything else is an upsert ('A')."""
    return F.when(exists_col.isNull(), F.lit("D")).otherwise(F.lit("A")).alias("_change_type")


# ---------------------------------------------------------------------------
# E8 — the full delta query (O10 ∘ O11 ∘ O12 ∘ O13 ∘ O14)
# ---------------------------------------------------------------------------
def source_rowid(pk_cols: list[str]) -> Column:
    """O15: the reference forwards HANA's internal ``$rowid$`` as
    ``__source_rowid`` on both delta and initial selects
    (S4HanaTableMapping.java:452,744). Parquet/files have no engine rowid,
    so the engine's stable surrogate is a 64-bit hash of the PK tuple —
    deterministic across retries and engines, unique per logical row."""
    return F.xxhash64(*[F.col(c) for c in pk_cols]).alias("__source_rowid")


def cdc_delta(
    source: DataFrame,
    pklog: DataFrame,
    mapping: TableMapping,
    lo: int,
    hi: int,
    schema_name: str = "S4",
    strategy: str = "outer",
    with_rowid: bool = False,
) -> DataFrame:
    """Compute the CDC delta for ``mapping`` over transaction range (lo, hi].

    Output columns: ``_change_type`` ('D'/'A'), ``_transactionid``, then one
    column per columnmapping alias. PK columns are taken from the LOG side so
    deleted rows still carry their key (driver-side PK coalesce,
    S4HanaTableMapping.java:523-544); non-PK columns evaluate the mapping's
    SQL expressions against the source row (NULL for deletes, as in the
    reference where "L1".* is NULL after the failed outer join).
    """
    pk_names = mapping.pkcolumns
    src_types = dict((f.name, f.dataType.simpleString()) for f in source.schema.fields)
    pk_types = [src_types[p] for p in pk_names]

    cv = change_view(pklog, mapping.mastertable, schema_name, pk_names, pk_types)
    deduped = latest_by_key(delta_range(cv, lo, hi), pk_names)

    marked = source.withColumn("__src_exists", F.lit(1))
    if strategy == "outer":
        joined = deduped.join(marked, on=pk_names, how="left")
    elif strategy == "broadcast":
        # Scale path: the source is only ever the probe side. The semi join
        # keeps the source rows whose PK changed; broadcasting them into the
        # outer join leaves every broadcast bounded by the changed keys.
        matched = marked.join(F.broadcast(deduped.select(pk_names)), on=pk_names, how="left_semi")
        joined = deduped.join(F.broadcast(matched), on=pk_names, how="left")
    else:
        raise ValueError(f"unknown cdc_delta strategy: {strategy!r}")

    exists = F.col("__src_exists")
    non_pk_cols = [cm for cm in mapping.columnmappings if (cm.source_column or cm.alias) not in pk_names]
    pk_alias = {cm.source_column: cm.alias for cm in mapping.columnmappings if cm.source_column in pk_names}
    cols = [
        classify_change(exists),
        F.col("_transactionid"),
        # PKs from the log side (join key columns resolve to the left / log
        # side under how='left'), renamed through the mapping alias
        *[F.col(pk).alias(pk_alias.get(pk, pk)) for pk in pk_names],
        *[cm.as_spark() for cm in non_pk_cols],
    ]
    if with_rowid:
        # like the reference's "L1"."$rowid$": taken from the SOURCE side,
        # hence NULL on deletes (the outer join found no row)
        cols.append(
            F.when(exists.isNull(), F.lit(None).cast("bigint"))
            .otherwise(source_rowid(pk_names))
            .alias("__source_rowid")
        )
    return joined.select(cols)


# ---------------------------------------------------------------------------
# O7 / E7 — PK-update expansion
# ---------------------------------------------------------------------------
def pk_change_expand(changes: DataFrame, pk_names: list[str]) -> DataFrame:
    """A PK update becomes TWO change rows (update trigger with REFERENCING
    NEW ROW / OLD ROW, S4HanaTableMapping.java:194-220): one for the NEW key
    (always) and one for the OLD key, emitted only when any PK column
    changed. Input: one row per update carrying ``new_<pk>`` and ``old_<pk>``
    columns; output: one row per emitted log entry with plain ``<pk>``
    columns and a ``pk_side`` marker ('new'/'old').
    """
    new_struct = F.struct(
        F.lit("new").alias("pk_side"), *[F.col(f"new_{p}").alias(p) for p in pk_names]
    )
    old_struct = F.struct(
        F.lit("old").alias("pk_side"), *[F.col(f"old_{p}").alias(p) for p in pk_names]
    )
    pk_changed = None
    for p in pk_names:
        c = ~F.col(f"new_{p}").eqNullSafe(F.col(f"old_{p}"))
        pk_changed = c if pk_changed is None else (pk_changed | c)
    sides = F.when(pk_changed, F.array(new_struct, old_struct)).otherwise(F.array(new_struct))
    other = [c for c in changes.columns if not (c.startswith("new_") or c.startswith("old_"))]
    return (
        changes.withColumn("__side", F.explode(sides))
        .select(*other, F.col("__side.pk_side").alias("pk_side"), *[F.col(f"__side.{p}").alias(p) for p in pk_names])
    )


# ---------------------------------------------------------------------------
# O20/O21 / E10 — watermark: max safe transaction id
# ---------------------------------------------------------------------------
def watermark(
    pklog: DataFrame,
    transactions: DataFrame,
    now_ts: Column | str,
    min_transactionid: int = 0,
    staleness_seconds: int = 7200,
) -> DataFrame:
    """Highest transaction id that is SAFE to read (S4HanaProducer.java:317-368).

    ``least( coalesce(max(log txid), MAX_LONG),
             coalesce(min(in-flight txid) - 1, MAX_LONG) )``
    restricted to in-flight write transactions younger than the 2 h staleness
    window (``start_time > now - 7200 s``, :331). Reading only below the
    oldest in-flight writer guarantees commit-order correctness. If both
    sides are empty the MAX_LONG sentinel collapses to ``min_transactionid``
    (:336-338). Also returns the oldest in-flight start time for latency
    alerting (:339-358).

    One-row result: ``(maxtxid BIGINT, oldest_start_time TIMESTAMP)``.
    Physical plan: two single-row partial aggregates + a 1×1 cross join —
    cost is independent of log size thanks to map-side partial max/min.
    """
    now_c = F.lit(now_ts).cast("timestamp") if isinstance(now_ts, str) else now_ts
    max_log = pklog.agg(
        F.coalesce(F.max("transactionid"), F.lit(MAX_LONG)).alias("max_log")
    )
    inflight = transactions.filter(
        (F.col("update_transaction_id") > 0)
        & (F.col("start_time") > now_c - F.expr(f"INTERVAL {staleness_seconds} SECONDS"))
    ).agg(
        F.coalesce(F.min("update_transaction_id") - 1, F.lit(MAX_LONG)).alias("min_active"),
        F.min("start_time").alias("oldest_start_time"),
    )
    joined = max_log.crossJoin(inflight)
    safe = F.least(F.col("max_log"), F.col("min_active"))
    return joined.select(
        F.when(safe == MAX_LONG, F.lit(min_transactionid)).otherwise(safe).alias("maxtxid"),
        F.col("oldest_start_time"),
    )


def current_watermark(pklog: DataFrame, transactions: DataFrame) -> DataFrame:
    """Restart point (O21, S4HanaProducer.java:371-389):
    ``least( coalesce(max(log txid), 0),
             coalesce(min(in-flight txid) - 1, MAX_LONG) )``
    with NO staleness window — unlike the poll watermark (O20), the restart
    point must never pass an uncommitted lower txid, or those changes are
    permanently skipped once they commit. Empty log collapses to 0 via the
    coalesce; no in-flight writers collapses the clamp to MAX_LONG (a no-op
    under ``least``). Same 1×1 cross-join-of-partial-aggregates physical
    shape as ``watermark`` — cost independent of log size."""
    max_log = pklog.agg(F.coalesce(F.max("transactionid"), F.lit(0)).alias("max_log"))
    inflight = transactions.filter(F.col("update_transaction_id") > 0).agg(
        F.coalesce(F.min("update_transaction_id") - 1, F.lit(MAX_LONG)).alias("min_active")
    )
    return max_log.crossJoin(inflight).select(
        F.least(F.col("max_log"), F.col("min_active")).alias("maxtxid")
    )


# ---------------------------------------------------------------------------
# O22 — open-transaction latency alerting
# ---------------------------------------------------------------------------
TXN_LATENCY_INFO_SECONDS = 5.0  # diff > 5000 ms (S4HanaProducer.java:353)
TXN_LATENCY_WARN_SECONDS = 60.0  # diff > 60000 ms (S4HanaProducer.java:346)


def classify_txn_latency(oldest_start_time, now) -> str:
    """O22 (S4HanaProducer.java:339-358): classify the age of the oldest
    in-flight write transaction — the thing that is holding the safe
    watermark back and therefore adding replication latency.

      * age > 60 s  -> ``'warn'``  (reference: operation log at WARN)
      * age > 5 s   -> ``'info'``  (reference: plain operation-log line)
      * otherwise   -> ``'ok'``    (an open txn for milliseconds is normal)

    ``oldest_start_time`` is the second column of :func:`watermark`'s one-row
    result (None when no writer is in flight — always ``'ok'``). ``now`` is
    the same clock the watermark was computed against (datetime or ISO
    string), so the classification is deterministic and testable instead of
    reading the wall clock.
    """
    if oldest_start_time is None:
        return "ok"
    if isinstance(now, str):
        now = datetime.datetime.fromisoformat(now)
    if isinstance(oldest_start_time, str):
        oldest_start_time = datetime.datetime.fromisoformat(oldest_start_time)
    age = (now - oldest_start_time).total_seconds()
    if age > TXN_LATENCY_WARN_SECONDS:
        return "warn"
    if age > TXN_LATENCY_INFO_SECONDS:
        return "info"
    return "ok"


# ---------------------------------------------------------------------------
# O23 / E11 — impacted-table discovery
# ---------------------------------------------------------------------------
def impacted_tables(pklog: DataFrame, schema_name: str, lo: int, hi: int) -> DataFrame:
    """``SELECT DISTINCT table_name FROM pklog WHERE schema_name = ? AND
    transactionid > ? AND transactionid <= ?`` (S4HanaProducer.java:400-420).
    Result is bounded by the table count, so collecting it driver-side (to
    fan out to mapping objects) is safe at any scale."""
    return (
        pklog.filter(
            (F.col("schema_name") == schema_name)
            & (F.col("transactionid") > lo)
            & (F.col("transactionid") <= hi)
        )
        .select("table_name")
        .distinct()
    )


# ---------------------------------------------------------------------------
# O25 / E12 — retention
# ---------------------------------------------------------------------------
def retention_filter(pklog: DataFrame, now_ts: Column | str, days: int = 7) -> DataFrame:
    """Keep only rows younger than the retention window — the engine-side
    equivalent of ``DELETE FROM pklog WHERE change_ts < add_days(now(), -7)``
    (S4HanaProducer.java:474-491). With a Delta/Iceberg log table this runs
    as a metadata-only partition drop when the log is date-partitioned."""
    now_c = F.lit(now_ts).cast("timestamp") if isinstance(now_ts, str) else now_ts
    return pklog.filter(F.col("change_ts") >= now_c - F.expr(f"INTERVAL {days} DAYS"))


# ---------------------------------------------------------------------------
# E13 — apply a CDC batch onto a snapshot (consumer side of O26)
# ---------------------------------------------------------------------------
def latest_per_pk(batch: DataFrame, pk_names: list[str]) -> DataFrame:
    """Reduce a CDC batch to ONE row per PK — the last writer — with
    DETERMINISTIC tie-breaking: a batch may carry two rows for one PK at the
    same txid (insert+update in one transaction, different transaction_seq) —
    max-txid-only would keep both. transaction_seq is the true
    within-transaction order; when it is absent the last writer is
    unknowable, so the fallback is an explicit change-type rank
    (D=3 > U=2 > I=1 > A=0): a same-txid tie always resolves delete-wins,
    not by the letter of the change type (raw lexicographic DESC would let
    'U' beat 'D' but 'D' beat 'A'). Shared by ``apply_changes`` and every
    maintenance operator that applies a batch's algebraic effect — both
    MUST agree on which row per PK survives or the maintained state
    diverges from a recompute."""
    from pyspark.sql import Window

    order_cols = []
    if "_transactionid" in batch.columns:
        order_cols.append(F.col("_transactionid").desc())
    if "transaction_seq" in batch.columns:
        order_cols.append(F.col("transaction_seq").desc())
    if "_change_type" in batch.columns:
        order_cols.append(
            F.when(F.col("_change_type") == "D", 3)
            .when(F.col("_change_type") == "U", 2)
            .when(F.col("_change_type") == "I", 1)
            .otherwise(0)
            .desc()
        )
    if not order_cols:  # not a CDC-shaped batch; arbitrary-but-total order
        order_cols = [F.lit(1)]
    w = Window.partitionBy(*pk_names).orderBy(*order_cols)
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_changes(
    snapshot: DataFrame,
    batch: DataFrame,
    pk_names: list[str],
    evolve_schema: bool = False,
    drift_mode: str | None = None,
) -> DataFrame:
    """Materialize a delta batch onto a snapshot: per-PK latest change wins;
    'D' removes the row, 'A'/'I' upserts it. MERGE INTO without Delta:
    anti-join out every changed PK, then union the surviving upserts —
    both legs shuffle on PK once; with a PK-bucketed snapshot the anti join
    is co-located and shuffle-free on the big side.

    ``evolve_schema=True`` handles the reference's mid-stream DDL case
    (a source table gains a column; the connector rebuilds the mapping and
    newer deltas carry the extra field, O28-O29): batch columns missing
    from the snapshot are ADDED to the output schema, with untouched
    snapshot rows reading NULL for them — additive evolution only, exactly
    how a rebuilt Avro schema remains backward-compatible for the
    reference's consumers. Dropped columns are NOT inferred (a batch
    without a column means "unchanged", not "removed"). The default
    projects the batch onto the snapshot's schema — unknown batch columns
    are ignored, so widening the OUTPUT schema is an explicit opt-in.

    ``drift_mode`` ('backward'/'forward'/'full') runs the registry-style
    schema compatibility gate (avro_schema.schema_drift) between the
    snapshot schema and the incoming batch's data columns BEFORE anything
    is applied — an added nullable column passes, a type change or
    decimal scale change raises — the order the reference implies by
    registering the rebuilt schema ahead of producing rows with it."""
    meta = {"_change_type", "_transactionid", "transaction_seq"}
    if drift_mode:
        from pyspark.sql import types as T

        from s4hanaconnector_spark.avro_schema import schema_drift

        batch_data = T.StructType(
            [f for f in batch.schema.fields if f.name not in meta]
        )
        issues = schema_drift(
            snapshot.schema, batch_data, drift_mode, pkcolumns=pk_names
        )
        if issues:
            raise ValueError(
                "incompatible batch schema (drift gate): " + "; ".join(issues)
            )
    latest = latest_per_pk(batch, pk_names)
    missing = [c for c in snapshot.columns if c not in latest.columns]
    if missing:
        # "a batch without a column means UNCHANGED, not removed": a
        # straggler batch produced before a mapping rebuild (O28) lacks the
        # newer snapshot columns — the drift gate approves it (writer-only
        # fields are legal backward evolution), so the apply must not crash
        # on an unresolved column. Recover the missing columns from the
        # snapshot row per PK (NULL for brand-new PKs). Delta-sized join on
        # PK; co-located/shuffle-free with a PK-bucketed snapshot.
        latest = latest.join(
            snapshot.select(*pk_names, *missing), on=pk_names, how="left"
        )
    data_cols = [c for c in snapshot.columns]
    if evolve_schema:
        data_cols += [
            c for c in batch.columns if c not in meta and c not in data_cols
        ]
    upserts = latest.filter(F.col("_change_type") != "D").select(data_cols)
    untouched = snapshot.join(latest.select(pk_names), on=pk_names, how="left_anti")
    return untouched.unionByName(upserts, allowMissingColumns=evolve_schema)


# ---------------------------------------------------------------------------
# E13 extensions — log compaction + consumer-side time travel
# ---------------------------------------------------------------------------
def compact_changes(
    changes: DataFrame,
    pk_names: list[str],
    ord_cols: list[str] | None = None,
    drop_tombstones: bool = False,
) -> DataFrame:
    """Kafka-log-compaction equivalent: fold an emitted change stream —
    typically the union of many committed ranges — down to the NEWEST record
    per PK, preserving 'D' tombstones.

    The reference's topics are exactly this structure: "data in Kafka is a
    1:1 copy of the ABAP table structure" (README.md:82) with one producer
    per topic for transactional consistency (README.md:74), and Kafka's own
    log compaction is what keeps the topic a bounded 1:1 copy rather than an
    unbounded history. This operator is that compaction pass re-expressed
    for range-committed parquet topics.

    Shape at scale: ONE hash aggregation — ``max_by`` over a packed struct
    ordered by ``ord_cols`` — with map-side partial aggregation, no window
    sort and no re-join. Compacting a week of ranges shuffles each row once
    on its (short) PK.

    ``drop_tombstones=True`` is the materializing-consumer variant (a reader
    building current state can discard deletes); compactors that feed OTHER
    consumers must keep tombstones, else a downstream copy never learns the
    key died — the same rule Kafka applies via ``delete.retention.ms``.

    The default ordinal mirrors :func:`latest_per_pk` exactly — txid, then
    within-transaction seq, then the delete-wins change-type rank — because
    a consumer materializing from the COMPACTED topic and one applying the
    RAW feed must land on the same row per PK; a txid-only ordinal would
    pick a nondeterministic survivor for the two same-txid rows a PK-update
    trigger emits (S4HanaTableMapping.java:194-220).
    """
    if ord_cols is None:
        ord_exprs: list[Column] = []
        if "_transactionid" in changes.columns:
            ord_exprs.append(F.col("_transactionid"))
        if "transaction_seq" in changes.columns:
            ord_exprs.append(F.col("transaction_seq"))
        if "_change_type" in changes.columns:
            ord_exprs.append(
                F.when(F.col("_change_type") == "D", 3)
                .when(F.col("_change_type") == "U", 2)
                .when(F.col("_change_type") == "I", 1)
                .otherwise(0)
            )
        if not ord_exprs:
            raise ValueError(
                "compact_changes: no CDC ordinal columns found; pass ord_cols"
            )
    else:
        ord_exprs = [F.col(c) for c in ord_cols]
    others = [c for c in changes.columns if c not in pk_names]
    packed = changes.groupBy(*pk_names).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in others]),
            F.struct(*ord_exprs),
        ).alias("_latest")
    )
    out = packed.select(
        *pk_names, *[F.col(f"_latest.{c}").alias(c) for c in others]
    )
    if drop_tombstones and "_change_type" in changes.columns:
        out = out.filter(F.col("_change_type") != "D")
    return out


def snapshot_at(
    snapshot: DataFrame,
    source: DataFrame,
    pklog: DataFrame,
    mapping: TableMapping,
    as_of_txid: int,
    schema_name: str = "S4",
) -> DataFrame:
    """Consumer-side time travel: the table state a materializing consumer
    would hold after applying every change with ``transactionid <=
    as_of_txid`` onto its (possibly stale) ``snapshot`` — i.e. replaying the
    compacted topic up to an offset, which is exactly how the reference's
    consumers reconstruct state from the initial load plus the change topic
    (S4HanaProducer.java:442,619-625 emit; this is the read side).

    Pure composition of the engine's own operators — delta over (0, T]
    (E8), then MERGE (E13): declarative end to end, so Catalyst fuses the
    range filter into the log scan and the apply stays two PK-keyed hash
    joins. The mapping's output columns must cover the snapshot's schema
    (identity-shaped, like the topic a 1:1 consumer materializes); a
    renaming mapping would trip apply_changes' straggler recovery and
    backfill "missing" columns from the stale snapshot."""
    batch = cdc_delta(
        source, pklog, mapping, 0, as_of_txid, schema_name=schema_name
    )
    return apply_changes(snapshot, batch, mapping.pkcolumns)


# ---------------------------------------------------------------------------
# O16-O18 / E9 — initial load
# ---------------------------------------------------------------------------
def initial_load(
    source: DataFrame, mapping: TableMapping, with_rowid: bool = False
) -> DataFrame:
    """Snapshot scan (S4HanaTableMapping.java:740-761):
    ``SELECT 'I' AS _change_type, NULL AS _transactionid, <expr AS alias...>
    FROM source [WHERE initialloadwhere]``.

    The reference hand-builds partition parallelism (PARTITION (n) clauses +
    a 10-thread pool, S4HanaProducer.java:500-654); in Spark a single
    declarative read is already partition-parallel, restartable per-task, and
    the WHERE/projection push into the parquet scan."""
    df = source
    if mapping.initialloadwhere:
        df = df.filter(F.expr(mapping.initialloadwhere))
    return df.select(
        F.lit("I").alias("_change_type"),
        F.lit(None).cast("bigint").alias("_transactionid"),
        *mapping.projection(),
        # O15 rowid passthrough on the initial select too
        # (S4HanaTableMapping.java:744)
        *([source_rowid(mapping.pkcolumns)] if with_rowid else []),
    )


# ---------------------------------------------------------------------------
# O27 / E18 — order + limit (restart-point lookup)
# ---------------------------------------------------------------------------
def order_limit(df: DataFrame, order_by: list[Column], n: int) -> DataFrame:
    """``SELECT TOP n ... ORDER BY ...`` (S4HanaProducer.java:118-144).
    Spark executes this as TakeOrderedAndProject — a per-partition top-n
    followed by a driver-side merge of n·partitions rows, never a full sort."""
    return df.orderBy(*order_by).limit(n)


# ---------------------------------------------------------------------------
# E13 extension — SCD2 version history from a change feed
# ---------------------------------------------------------------------------
def scd2_versions(
    changes: DataFrame,
    pk_names: list[str],
    ord_col: str = "_transactionid",
    type_col: str = "change_type",
) -> DataFrame:
    """Slowly-changing-dimension (type 2) reconstruction: each non-delete
    change opens a version valid from its transaction id until the key's
    NEXT change (exclusive); the last surviving change is the current
    version. Deletes terminate the prior version without opening one —
    exactly the consumer-side history a CDC feed implies (the reference
    emits the change stream, S4HanaProducer.java:442; materializing history
    is the canonical downstream use).

    One window over (pk, ord) — a single shuffle on PK; no self-joins.
    Returns the change rows (minus deletes) plus ``__valid_from``,
    ``__valid_to`` (NULL = open) and ``__is_current``.
    """
    from pyspark.sql import Window as W

    # the type column is a tiebreak: two changes of one key in the same
    # transaction (insert+update batched together) must version in the same
    # order in every engine
    w = W.partitionBy(*pk_names).orderBy(F.col(ord_col).asc(), F.col(type_col).asc())
    nxt = F.lead(ord_col).over(w)
    versioned = changes.select(
        "*",
        F.col(ord_col).alias("__valid_from"),
        nxt.alias("__valid_to"),
    )
    return versioned.filter(F.col(type_col) != "D").withColumn(
        "__is_current", F.col("__valid_to").isNull()
    )


# ---------------------------------------------------------------------------
# E13 extension — point-in-time snapshot (time travel) from a change feed
# ---------------------------------------------------------------------------
def snapshot_as_of(
    baseline_keys: DataFrame,
    cv: DataFrame,
    pk_names: list[str],
    as_of_txid: int,
    ord_col: str = "_transactionid",
    seq_col: str = "transaction_seq",
    type_col: str = "change_type",
) -> DataFrame:
    """Key membership of the table AS OF transaction ``as_of_txid``:
    baseline snapshot keys plus/minus everything the change log says
    happened up to (and including) that transaction — the time-travel
    primitive a CDC log enables (the reference stitches initial load +
    deltas by the txid captured before the snapshot,
    S4HanaProducer.java:500-580; this is the same stitch evaluated at an
    arbitrary past point).

    Per key, the WINNING change is the latest (txid, seq, type) triple at
    or below the cutoff — the type tiebreak pins engine-independent order
    if one transaction carries several changes of a key. A key is present
    iff it was in the baseline and never changed, or its winning change is
    not a delete. Output: pk columns, ``last_txid`` (NULL = untouched
    baseline row) and ``last_change_type`` ('B' = untouched baseline).

    Plan: filter+window on the (small) log, then BROADCAST left join +
    broadcast anti join against the baseline KEY projection, unioned — the
    obvious full-outer formulation forces a sort-merge join (full outer
    cannot build a broadcast hash table on Spark's probe semantics here),
    which would SHUFFLE the 100 TB baseline; this decomposition touches the
    baseline with two broadcast probes of its column-pruned PK scan and
    never repartitions it. Payload re-attachment is a later broadcast probe
    by the caller if needed.
    """
    from pyspark.sql import Window as W

    # same-(txid, seq) ties resolve DELETE-WINS via the explicit change-type
    # rank latest_per_pk uses (D=3 > U=2 > I=1 > other) — raw lexicographic
    # DESC would let 'U' beat 'D' and report a key PRESENT that
    # apply_changes just removed, so time travel at the current txid would
    # contradict the materialized table
    type_rank = (
        F.when(F.col(type_col) == "D", 3)
        .when(F.col(type_col) == "U", 2)
        .when(F.col(type_col) == "I", 1)
        .otherwise(0)
    )
    w = W.partitionBy(*pk_names).orderBy(
        F.col(ord_col).desc(), F.col(seq_col).desc(), type_rank.desc()
    )
    winner = (
        cv.filter(F.col(ord_col) <= as_of_txid)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*pk_names, F.col(ord_col).alias("last_txid"), F.col(type_col).alias("__ct"))
    )
    base = baseline_keys.select(*pk_names)
    # baseline keys, annotated with their winning change if any
    from_base = base.join(F.broadcast(winner), on=pk_names, how="left").filter(
        F.col("__ct").isNull() | (F.col("__ct") != "D")
    )
    # keys born after the baseline: winning non-delete changes absent from it.
    # The intersection (base ⋉ winner) is computed FIRST — broadcast winner
    # into a semi probe of the baseline scan, output <= |winner| rows — so
    # the anti join's build side is small; anti-joining winner against the
    # raw baseline would have to broadcast or shuffle the 100 TB side.
    matched = base.join(
        F.broadcast(winner.select(*pk_names)), on=pk_names, how="semi"
    )
    from_log = winner.filter(F.col("__ct") != "D").join(
        F.broadcast(matched), on=pk_names, how="anti"
    )
    return from_base.unionByName(from_log).select(
        *pk_names,
        "last_txid",
        F.coalesce(F.col("__ct"), F.lit("B")).alias("last_change_type"),
    )


# ---------------------------------------------------------------------------
# E13 extension — incremental maintenance of a grouped aggregate
# ---------------------------------------------------------------------------
def maintain_grouped_agg(
    snapshot: DataFrame,
    batch: DataFrame,
    pk_names: list[str],
    group_cols: list[str],
    measure_col: str,
    measure_type: str = "decimal(18,2)",
) -> DataFrame:
    """Incrementally maintain ``SELECT group, count(*), sum(measure)`` under
    a CDC batch — materialized-view maintenance from the change feed, the
    consumer-side dual of ``apply_changes``: instead of merging the batch
    into row storage and re-aggregating a 100 TB table, apply the batch's
    ALGEBRAIC effect to the (tiny) aggregate state.

    Classic delta algebra (self-maintainable for SUM/COUNT — Gupta &
    Mumick's view-maintenance framework):

      maintained = base_agg
                 - contributions of snapshot rows whose PK is in the batch
                 + contributions of the batch's surviving ('A'/'I'/'U') rows

    A group a row moves OUT of gets the subtraction, the group it moves
    INTO gets the addition; deletes only subtract; inserts only add; empty
    groups drop out. Equality with full recomputation over the merged
    table is exactly what the oracle asserts (``cdc_incremental_agg``).

    Scale: the batch and the changed-PK set are delta-sized — the one scan
    of the big snapshot is a broadcast-semi-join (PK-pruned columns), and
    all three legs partial-aggregate map-side before a single |groups|-row
    shuffle. The maintained state never exceeds |groups| x 3 rows in
    flight."""
    m = F.col(measure_col).cast(measure_type)
    changed = batch.select(*pk_names).distinct()
    # The non-null counter (__nn) rides along so an all-NULL-measure group
    # reports measure_sum = NULL exactly like a recompute would — plain
    # signed sums alone cannot tell "sums to zero" from "no non-null
    # values" once NULL measures enter and leave a group.
    base = snapshot.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"), F.count(m).alias("__nn"), F.sum(m).alias("__s")
    )
    minus = (
        snapshot.join(F.broadcast(changed), on=pk_names, how="left_semi")
        .groupBy(*group_cols)
        .agg(
            (-F.count(F.lit(1))).alias("__n"),
            (-F.count(m)).alias("__nn"),
            (-F.sum(m)).alias("__s"),
        )
    )
    # The plus leg MUST see exactly one row per PK — the same last-writer
    # row apply_changes would materialize. A batch carrying insert+update
    # for one PK in one transaction (the exact case apply_changes's window
    # dedup exists for) would otherwise double-count that PK here while the
    # minus leg subtracts its snapshot row only once, silently diverging
    # the maintained aggregate from apply_changes + recompute.
    plus = (
        latest_per_pk(batch, pk_names)
        .filter(F.col("_change_type") != "D")
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.count(m).alias("__nn"),
            F.sum(m).alias("__s"),
        )
    )
    return (
        base.unionByName(minus)
        .unionByName(plus)
        .groupBy(*group_cols)
        .agg(
            F.sum("__n").alias("n_rows"),
            F.sum("__nn").alias("__nn"),
            F.sum("__s").cast(measure_type).alias("__s"),
        )
        .filter(F.col("n_rows") > 0)
        .select(
            *group_cols,
            "n_rows",
            F.when(F.col("__nn") > 0, F.col("__s")).alias("measure_sum"),
        )
    )


# ---------------------------------------------------------------------------
# E8 inverse — derive a CDC batch by diffing two snapshots
# ---------------------------------------------------------------------------
def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    pk_names: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Derive a CDC batch from two versions of a table — the INVERSE of
    ``apply_changes`` and the bootstrap path when no change log exists yet
    (the reference needs its triggers installed before any delta can flow,
    O6-O8; a Spark deployment can instead diff yesterday's snapshot against
    today's and feed the SAME downstream consumers):

      * PK only in ``new``                       -> 'I' (new row)
      * PK only in ``old``                       -> 'D' (PK carried, non-PK
        NULL — the same delete shape cdc_delta emits, O13/O14)
      * PK in both, any compared column differs  -> 'U' (new values)
      * PK in both, all equal                    -> no output row

    Column comparison is NULL-SAFE (``<=>``): NULL -> value and value ->
    NULL both count as changes, NULL -> NULL does not. The invariant
    ``apply_changes(old, snapshot_diff(old, new)) == new`` is asserted in
    tests.

    Scale: one full-outer join on PK — both sides shuffle once (bucket both
    snapshots on PK for a shuffle-free diff); the comparison is row-local.
    Output is delta-sized.
    """
    non_pk = [c for c in new.columns if c not in pk_names]
    cmp_cols = compare_cols if compare_cols is not None else non_pk
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in old.columns],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in new.columns],
        F.lit(1).alias("__in_new"),
    )
    cond = [F.col(f"__o_{k}") == F.col(f"__n_{k}") for k in pk_names]
    j = o.join(n, cond, "full_outer")
    changed = F.lit(False)
    for c in cmp_cols:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    ctype = (
        F.when(F.col("__in_old").isNull(), F.lit("I"))
        .when(F.col("__in_new").isNull(), F.lit("D"))
        .when(changed, F.lit("U"))
    )
    out_cols = [
        ctype.alias("_change_type"),
        *[
            F.coalesce(F.col(f"__n_{k}"), F.col(f"__o_{k}")).alias(k)
            for k in pk_names
        ],
        *[F.col(f"__n_{c}").alias(c) for c in non_pk],
    ]
    return j.select(*out_cols).filter(F.col("_change_type").isNotNull())


def maintain_grouped_agg_from_images(
    base_agg: DataFrame,
    batch: DataFrame,
    group_col: str,
    measure_col: str,
    measure_type: str = "decimal(18,2)",
) -> DataFrame:
    """Grouped-aggregate maintenance from BEFORE/AFTER images — the zero-
    snapshot-touch variant of :func:`maintain_grouped_agg` for feeds that
    carry both row versions (Debezium-style envelopes; the reference's
    trigger could capture OLD.* alongside NEW.*, O6-O8):

      batch columns: ``_change_type`` ('I'/'U'/'D'),
      ``old_<group>``/``old_<measure>`` (NULL for I),
      ``new_<group>``/``new_<measure>`` (NULL for D).

      maintained = base_agg - old-image contributions + new-image ones

    At 100 TB this is the whole point: the snapshot is NEVER read — the
    update is |batch| rows folded into |groups| rows of aggregate state.
    Contributions use one unpivoted pass (explode of the two signed
    images) so each batch row is touched once; groups that empty out drop.
    ``base_agg`` must carry ``(group_col, n_rows, measure_sum)`` as
    produced by this function or ``maintain_grouped_agg``.

    Precondition: the measure column is NOT NULL in the table (the normal
    envelope-feed case). Without reading the snapshot this fold cannot
    track a per-group non-null count, so a group whose only residents hold
    NULL measures would report 0 instead of NULL — use the snapshot
    variant when NULL measures are data."""
    mt = measure_type
    # image PRESENCE comes from the change type, never from g IS NULL: an
    # insert has no old image and a delete no new image, but a genuine NULL
    # group VALUE is a real group ('U' moving a row out of the NULL group
    # must subtract from it — a null filter would silently freeze that
    # group's aggregate while a recompute says it changed)
    ct = F.col("_change_type")
    signed = (
        batch.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(f"old_{group_col}").alias("g"),
                        F.col(f"old_{measure_col}").cast(mt).alias("m"),
                        F.lit(-1).alias("sign"),
                        ct.isin("U", "D").alias("v"),
                    ),
                    F.struct(
                        F.col(f"new_{group_col}").alias("g"),
                        F.col(f"new_{measure_col}").cast(mt).alias("m"),
                        F.lit(1).alias("sign"),
                        ct.isin("I", "U", "A").alias("v"),
                    ),
                )
            ).alias("__img")
        )
        .filter(F.col("__img.v"))
        .select("__img.g", "__img.m", "__img.sign")
    )
    delta = signed.groupBy(F.col("g").alias(group_col)).agg(
        F.sum("sign").alias("__n"), F.sum(F.col("m") * F.col("sign")).alias("__s")
    )
    base = base_agg.select(
        group_col, F.col("n_rows").alias("__n"), F.col("measure_sum").cast(mt).alias("__s")
    )
    return (
        base.unionByName(delta)
        .groupBy(group_col)
        .agg(
            F.sum("__n").alias("n_rows"),
            F.sum("__s").cast(mt).alias("measure_sum"),
        )
        .filter(F.col("n_rows") > 0)
    )


def classify_malformed(
    pklog: DataFrame,
    pk_cast: str | None = "bigint",
    valid_types: tuple = ("I", "U", "D", "A", "B"),
) -> DataFrame:
    """Dead-letter classification for a change feed: the reference's
    trigger-written PKLOG is clean by construction, but any feed that has
    crossed a wire can carry garbage, and the delta pipeline would turn an
    uncastable PK into a NULL join key that classifies as a phantom
    delete — silent corruption, not an error. This labels every log row
    with a ``_quarantine_reason`` (NULL = valid), checked in severity
    order: missing PK, PK that fails ``try_cast`` to the mapping's key
    type, unknown change type, missing transaction id. Row-local
    projection (try_cast never throws); the poll pipeline filters
    ``IS NULL`` onward and ships the rest to a quarantine sink, exactly
    like the CSV/JSON corrupt-record path (sources/files.py)."""
    # pk_cast=None runs the STRUCTURAL checks only — the multi-table poll
    # gate, where each mapping's key type differs and castability is
    # checked per table downstream
    reason = F.when(F.col("pk1").isNull(), F.lit("missing_pk"))
    if pk_cast is not None:
        reason = reason.when(
            F.col("pk1").try_cast(pk_cast).isNull(), F.lit("pk_uncastable")
        )
    # NULL change_type must be an explicit branch: `~isin(...)` is NULL (not
    # true) for a NULL operand, which would let the row classify as VALID and
    # flow into the delta pipeline — the silent-drop class this gate exists
    # to prevent
    reason = reason.when(
        F.col("change_type").isNull()
        | ~F.col("change_type").isin(*valid_types),
        F.lit("bad_change_type"),
    ).when(F.col("transactionid").isNull(), F.lit("missing_txid"))
    return pklog.withColumn("_quarantine_reason", reason)
