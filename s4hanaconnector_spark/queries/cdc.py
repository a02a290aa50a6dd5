"""Declared queries: CDC core (SURVEY §2.2 E1-E18).

Each query pairs the engine's DataFrame composition with the transliterated
reference SQL shape run by DuckDB as oracle. The synthetic change feed is
shared arithmetic over ``orders`` (sources/pklog.py) so both engines see the
identical log.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s4hanaconnector_spark.mapping import ColumnMapping, TableMapping
from s4hanaconnector_spark.operators import cdc as C
from s4hanaconnector_spark.poll import RangeCommitSink, materialize_snapshot, poll
from s4hanaconnector_spark.queries.registry import register, scratch_root, t
from s4hanaconnector_spark.sources.pklog import (
    CUSTOMER_PKLOG_ORACLE_CTE,
    PKLOG_ORACLE_CTE,
    TRANSACTIONS_ORACLE_CTE,
    synthetic_pklog,
    synthetic_transactions,
)
from s4hanaconnector_spark.streaming.core import (
    PKLOG_DDL,
    changes_stream,
    drain,
    poll_each_batch,
    stateful_latest_by_key,
    transactional_sink,
)

LO, HI = 1005, 1040  # the delta poll's (lo, hi] transaction range


def _mkdtemp(prefix: str) -> str:
    """A fresh scratch dir under the queries' per-process scratch root."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())

ORDERS_MAPPING = TableMapping(
    name="orders",
    mastertable="orders",
    alias="L1",
    columnmappings=[
        ColumnMapping("o_orderkey", '"L1"."o_orderkey"', "BIGINT"),
        ColumnMapping("o_custkey", '"L1"."o_custkey"', "BIGINT"),
        # computed column (O30): arbitrary SQL expression in the projection
        ColumnMapping("o_orderstatus_u", 'upper("L1"."o_orderstatus")', "NVARCHAR(1)"),
        ColumnMapping("o_totalprice", '"L1"."o_totalprice"', "DOUBLE"),
        # date-as-string output: DATE round-trips ambiguously between pandas
        # representations of the two engines, so the declared surface emits
        # ISO strings (the SAP world stores dates as NVARCHAR(8) anyway —
        # SURVEY §1.3)
        ColumnMapping("o_orderdate_d", 'date_format("L1"."o_orderdate", \'yyyy-MM-dd\')', "NVARCHAR(10)"),
        ColumnMapping("o_orderpriority", '"L1"."o_orderpriority"', "NVARCHAR(15)"),
    ],
    pkcolumns=["o_orderkey"],
)

# identity mapping (output columns == orders columns) for apply_changes
ORDERS_IDENTITY = TableMapping(
    name="orders_id",
    mastertable="orders",
    columnmappings=[
        ColumnMapping(c, f'"L1"."{c}"')
        for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
    ],
    pkcolumns=["o_orderkey"],
)


def _stream_polls(
    spark: SparkSession,
    prefix: str,
    polls: list[DataFrame],
    mappings: list[TableMapping],
    sources: dict[str, DataFrame],
    from_txid: int,
) -> RangeCommitSink:
    """Land ``polls`` one change-log file at a time, draining the change
    stream with batch ``poll()`` per micro-batch (no writer in flight)
    after each, and return the sink holding the committed ranges.

    A poll reads the whole log up to its watermark, so files landed before
    one drain would all commit in micro-batch 0. The assert holds every
    mapping to one committed range per poll: the snapshot composes ranges
    across micro-batches, and each mapping resumes from its own range."""
    d = _mkdtemp(prefix)
    log_glob = os.path.join(d, "log", "poll=*")
    sink = RangeCommitSink(os.path.join(d, "out"))
    on_batch = poll_each_batch(
        spark, mappings, lambda name: sources[name],
        # the glob is expanded here: a batch read of a glob path logs a
        # FileNotFoundException stack trace looking for a sink metadata dir
        lambda: spark.read.schema(PKLOG_DDL).parquet(*_glob.glob(log_glob)),
        lambda: spark.createDataFrame([], "update_transaction_id bigint, start_time timestamp"),
        from_txid, sink, lambda: "2026-01-01 00:00:00",
    )
    his: list[int] = []
    for i, df in enumerate(polls):
        df.coalesce(1).write.parquet(os.path.join(d, "log", f"poll={i}"))
        hi = df.agg(F.max("transactionid")).first()[0]
        his.append(max(hi, his[-1]) if his else hi)
        drain(
            changes_stream(spark, log_glob)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
        )
    for m in mappings:
        got = sink.committed_keys(m.name)
        assert got == his, f"{m.name}: committed ranges {got}, one per poll expected {his}"
    return sink


def _state_before(
    spark: SparkSession, state_dir: str, prefix: str, batch_id: int
) -> DataFrame:
    """The newest ``{prefix}_NNNNNN`` state version a micro-batch before
    ``batch_id`` wrote, else ``{prefix}_base``. A replayed batch therefore
    reads its predecessor's state, never its own earlier attempt."""
    mine = os.path.join(state_dir, f"{prefix}_{batch_id:06d}")
    prev = [
        v for v in sorted(_glob.glob(os.path.join(state_dir, f"{prefix}_0*"))) if v < mine
    ]
    return spark.read.parquet(prev[-1] if prev else os.path.join(state_dir, f"{prefix}_base"))


_DELTA_ORACLE_BODY = f"""
WITH {PKLOG_ORACLE_CTE.strip()},
cv AS (
    SELECT CAST(pk1 AS BIGINT) AS o_orderkey, transactionid AS _transactionid
    FROM pklog WHERE table_name = 'orders' AND schema_name = 'S4'
),
l AS (
    SELECT max(_transactionid) AS _transactionid, o_orderkey
    FROM cv WHERE _transactionid > {LO} AND _transactionid <= {HI}
    GROUP BY o_orderkey
)
"""


def cdc_delta_df(spark: SparkSession, sf_dir: str, strategy: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    return C.cdc_delta(orders, pklog, ORDERS_MAPPING, LO, HI, strategy=strategy)


_DELTA_ORACLE = (
    _DELTA_ORACLE_BODY
    + """
SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
       l._transactionid,
       l.o_orderkey,
       o.o_custkey,
       upper(o.o_orderstatus) AS o_orderstatus_u,
       o.o_totalprice,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate_d,
       o.o_orderpriority
FROM l LEFT OUTER JOIN orders o ON l.o_orderkey = o.o_orderkey
"""
)


@register("cdc_delta", _DELTA_ORACLE, headline=True)
def cdc_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the full reference delta query (O10-O14,
    S4HanaTableMapping.java:444-471) — change-view scan, per-PK latest dedup,
    outer join to source, delete classification, computed-column projection."""
    return cdc_delta_df(spark, sf_dir, "outer")


@register("cdc_delta_broadcast", _DELTA_ORACLE, headline=True)
def cdc_delta_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics, scale strategy: one scan of the source as the probe
    side of a semi join against the broadcast changed keys, then the outer
    join against those broadcast rows — zero shuffle of the source table."""
    return cdc_delta_df(spark, sf_dir, "broadcast")


@register(
    "cdc_rowid_passthrough",
    _DELTA_ORACLE_BODY
    + """
, d AS (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
           l.o_orderkey
    FROM l LEFT OUTER JOIN orders o ON l.o_orderkey = o.o_orderkey
)
SELECT _change_type,
       count(*) AS n_rows,
       CAST(CASE WHEN _change_type = 'A' THEN count(*) ELSE 0 END AS BIGINT) AS n_rowids,
       CAST(CASE WHEN _change_type = 'A' THEN count(DISTINCT o_orderkey) ELSE 0 END AS BIGINT) AS n_distinct_rowids
FROM d GROUP BY _change_type
""",
)
def cdc_rowid_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15 under the oracle gate: the reference forwards HANA's ``$rowid$``
    from the SOURCE side of the delta join (S4HanaTableMapping.java:452,744)
    — NULL on deletes, present and row-unique on live rows. Parquet has no
    engine rowid, so the surrogate is xxhash64 of the PK tuple
    (operators/cdc.py source_rowid); the hash VALUE is engine-private, so
    the oracle verifies the CONTRACT instead: every 'A' row carries a rowid,
    rowids are distinct per logical row (delta is PK-unique after
    latest-by-key), and every 'D' row's rowid is NULL — counts the oracle
    derives from the delta row set itself."""
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    delta = C.cdc_delta(
        orders, pklog, ORDERS_MAPPING, LO, HI, strategy="outer", with_rowid=True
    )
    return delta.groupBy("_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("__source_rowid").alias("n_rowids"),
        F.count_distinct("__source_rowid").alias("n_distinct_rowids"),
    )


@register(
    "cdc_latest_by_key",
    """
SELECT user_id, max(ts) AS ts FROM events GROUP BY user_id
""",
)
def cdc_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 standalone: collapse a change feed to the latest row per key
    (O11's GROUP BY + MAX shape on the events fixture)."""
    return C.latest_by_key(t(spark, sf_dir, "events"), ["user_id"], "ts")


@register(
    "cdc_impacted_tables",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()}
SELECT DISTINCT table_name FROM pklog
WHERE schema_name = 'S4' AND transactionid > {LO} AND transactionid <= {HI}
""",
)
def cdc_impacted_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O23: which tables changed in this poll interval."""
    pklog = synthetic_pklog(t(spark, sf_dir, "orders"))
    return C.impacted_tables(pklog, "S4", LO, HI)


_WM_NOW = "2001-08-01 12:00:00"
_WM_STALENESS = 604800  # 7 days so the fixture's July dates count as in-flight


@register(
    "cdc_watermark",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
{TRANSACTIONS_ORACLE_CTE.strip()},
a AS (
    SELECT coalesce(max(transactionid), 9223372036854775807) AS max_log FROM pklog
),
b AS (
    SELECT coalesce(min(update_transaction_id) - 1, 9223372036854775807) AS min_active,
           min(start_time) AS oldest_start_time
    FROM transactions
    WHERE update_transaction_id > 0
      AND start_time > TIMESTAMP '{_WM_NOW}' - INTERVAL {_WM_STALENESS} SECONDS
)
SELECT CASE WHEN least(max_log, min_active) = 9223372036854775807
            THEN 0 ELSE least(max_log, min_active) END AS maxtxid,
       oldest_start_time
FROM a, b
""",
)
def cdc_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O20: max safe transaction id = least(max committed in log, oldest
    in-flight writer - 1), with staleness window and MAX_LONG-sentinel
    collapse (S4HanaProducer.java:317-368)."""
    orders = t(spark, sf_dir, "orders")
    return C.watermark(
        synthetic_pklog(orders),
        synthetic_transactions(orders),
        _WM_NOW,
        min_transactionid=0,
        staleness_seconds=_WM_STALENESS,
    )


@register(
    "cdc_current_watermark",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
{TRANSACTIONS_ORACLE_CTE.strip().rstrip()},
a AS (SELECT coalesce(max(transactionid), 0) AS max_log FROM pklog),
b AS (SELECT coalesce(min(update_transaction_id) - 1, 9223372036854775807) AS min_active
      FROM transactions WHERE update_transaction_id > 0)
SELECT least(max_log, min_active) AS maxtxid FROM a, b
""",
)
def cdc_current_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21: the RESTART watermark — ``least(max committed in log, oldest
    in-flight writer - 1)`` with NO staleness window
    (S4HanaProducer.java:371-389), the resume point a fresh producer reads
    before its first poll. The in-flight clamp matters: a restart point
    captured past an uncommitted lower txid would permanently skip those
    changes once they commit. Empty log collapses to 0 via the coalesce."""
    orders = t(spark, sf_dir, "orders")
    return C.current_watermark(synthetic_pklog(orders), synthetic_transactions(orders))


_RET_NOW = "1998-01-01 00:00:00"


@register(
    "cdc_retention",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()}
SELECT * FROM pklog
WHERE change_ts >= TIMESTAMP '{_RET_NOW}' - INTERVAL 7 DAYS
""",
)
def cdc_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25: 7-day retention — survivors of ``DELETE ... WHERE change_ts <
    add_days(now(), -7)`` (S4HanaProducer.java:474-491)."""
    pklog = synthetic_pklog(t(spark, sf_dir, "orders"))
    return C.retention_filter(pklog, _RET_NOW, days=7)


@register(
    "cdc_initial_load",
    """
SELECT 'I' AS _change_type, CAST(NULL AS BIGINT) AS _transactionid,
       o_orderkey, o_custkey, upper(o_orderstatus) AS o_orderstatus_u,
       o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_d, o_orderpriority
FROM orders WHERE o_totalprice > 150000.0
""",
    headline=True,
)
def cdc_initial_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16/E9: snapshot scan with projection, computed column and
    initialloadwhere pushdown (S4HanaTableMapping.java:740-761)."""
    import dataclasses

    m = dataclasses.replace(ORDERS_MAPPING, initialloadwhere="o_totalprice > 150000.0")
    return C.initial_load(t(spark, sf_dir, "orders"), m)


@register(
    "cdc_apply_changes",
    _DELTA_ORACLE_BODY
    + """
, delta AS (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
           l._transactionid, l.o_orderkey, o.o_custkey, o.o_orderstatus,
           o.o_totalprice, o.o_orderdate, o.o_orderpriority
    FROM l LEFT OUTER JOIN orders o ON l.o_orderkey = o.o_orderkey
)
SELECT o.* FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = o.o_orderkey)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM delta WHERE _change_type <> 'D'
""",
    headline=True,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13: materialize a CDC batch onto a snapshot (MERGE without Delta —
    anti-join + union)."""
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    batch = C.cdc_delta(orders, pklog, ORDERS_IDENTITY, LO, HI)
    return C.apply_changes(orders, batch, ["o_orderkey"])


# the mid-feed split/as-of point for the compaction and time-travel queries:
# inside the synthetic txid range (1000..1057), so both sides are non-empty
_SPLIT_TXID = 1025


@register(
    "cdc_log_compaction",
    _DELTA_ORACLE.replace(
        f"_transactionid > {LO} AND _transactionid <= {HI}",
        "_transactionid > 0",
    ),
)
def cdc_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-log-compaction equivalent over range-committed emissions
    (README.md:74-82 — the topic stays a bounded 1:1 table copy only
    because Kafka compacts it): two separately-emitted delta ranges are
    folded to the newest record per PK in one max_by hash aggregation,
    tombstones preserved. The oracle is the ONE-SHOT delta over the full
    range — compaction of incremental emissions must be indistinguishable
    from never having split the feed."""
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    r1 = C.cdc_delta(orders, pklog, ORDERS_MAPPING, 0, _SPLIT_TXID)
    r2 = C.cdc_delta(orders, pklog, ORDERS_MAPPING, _SPLIT_TXID, 10**9)
    return C.compact_changes(r1.unionByName(r2), ["o_orderkey"])


@register(
    "cdc_snapshot_time_travel",
    _DELTA_ORACLE_BODY.replace(
        f"_transactionid > {LO} AND _transactionid <= {HI}",
        f"_transactionid > 0 AND _transactionid <= {_SPLIT_TXID}",
    )
    + f"""
, delta AS (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
           l.o_orderkey AS k, o.o_custkey, o.o_orderstatus,
           o.o_totalprice, o.o_orderdate, o.o_orderpriority
    FROM l LEFT OUTER JOIN orders o ON l.o_orderkey = o.o_orderkey
),
snap AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0)
SELECT s.* FROM snap s
WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.k = s.o_orderkey)
UNION ALL
SELECT k AS o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM delta WHERE _change_type <> 'D'
""",
)
def cdc_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-side time travel (the read half of the reference's emit,
    S4HanaProducer.java:442,619-625): a STALE materialization (every third
    key missing) replays the change topic up to ``as_of_txid`` and must
    land on the state the one-shot SQL reconstruction defines — changed
    keys refreshed/inserted from the source, tombstoned keys absent,
    untouched stale rows carried through."""
    orders = t(spark, sf_dir, "orders")
    stale = orders.filter(F.col("o_orderkey") % 3 != 0)
    pklog = synthetic_pklog(orders)
    return C.snapshot_at(stale, orders, pklog, ORDERS_IDENTITY, _SPLIT_TXID)


@register(
    "cdc_materialize_topic",
    # same reconstruction as the time-travel oracle, over the FULL range —
    # the topic path (two committed ranges + an orphan) must be invisible
    _DELTA_ORACLE_BODY.replace(
        f"_transactionid > {LO} AND _transactionid <= {HI}",
        "_transactionid > 0",
    )
    + """
, delta AS (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
           l.o_orderkey AS k, o.o_custkey, o.o_orderstatus,
           o.o_totalprice, o.o_orderdate, o.o_orderpriority
    FROM l LEFT OUTER JOIN orders o ON l.o_orderkey = o.o_orderkey
),
snap AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0)
SELECT s.* FROM snap s
WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.k = s.o_orderkey)
UNION ALL
SELECT k AS o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM delta WHERE _change_type <> 'D'
""",
)
def cdc_materialize_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full consumer loop over a REAL sink directory under the oracle
    gate: two separately-emitted delta ranges land as committed ranges, a
    third range's data dir is left ORPHANED (its marker never written —
    the crash window), and materialize_snapshot must reconstruct exactly
    the state the one-shot SQL defines from the committed ranges alone —
    aborted-transaction invisibility included, not just compaction
    algebra."""
    orders = t(spark, sf_dir, "orders")
    stale = orders.filter(F.col("o_orderkey") % 3 != 0)
    pklog = synthetic_pklog(orders)
    out_dir = _mkdtemp("cdc_mat_topic_")
    sink = RangeCommitSink(out_dir)
    r1 = C.cdc_delta(orders, pklog, ORDERS_IDENTITY, 0, _SPLIT_TXID)
    r2 = C.cdc_delta(orders, pklog, ORDERS_IDENTITY, _SPLIT_TXID, 10**9)
    sink.write(ORDERS_IDENTITY.name, _SPLIT_TXID, r1)
    sink.write(ORDERS_IDENTITY.name, 10**9, r2)
    # crash window: data written, marker never landed — must stay invisible
    orphan = os.path.join(out_dir, ORDERS_IDENTITY.name, "txid_hi=2000000000")
    r1.limit(7).withColumn("o_custkey", F.lit(-1).cast("bigint")).write.parquet(orphan)
    return materialize_snapshot(
        spark, sink, ORDERS_IDENTITY.name, ORDERS_IDENTITY.pkcolumns, base=stale
    )


# the mapping REBUILD (O28): the orders mapping gains a computed column —
# ranges emitted after the rebuild carry it, earlier ranges do not
import dataclasses as _dc  # noqa: E402

ORDERS_IDENTITY_EVOLVED = _dc.replace(
    ORDERS_IDENTITY,
    columnmappings=[
        *ORDERS_IDENTITY.columnmappings,
        ColumnMapping(
            "o_priority_num",
            'CAST(substr("L1"."o_orderpriority", 1, 1) AS INT)',
            "INTEGER",
        ),
    ],
)


@register(
    "cdc_materialize_evolving",
    _DELTA_ORACLE_BODY.replace(
        f"_transactionid > {LO} AND _transactionid <= {HI}",
        f"_transactionid > 0 AND _transactionid <= {_SPLIT_TXID}",
    ).replace("\nl AS (", "\nl1 AS (")
    + f"""
, l2 AS (
    SELECT max(_transactionid) AS _transactionid, o_orderkey
    FROM cv WHERE _transactionid > {_SPLIT_TXID}
    GROUP BY o_orderkey
),
d1 AS (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
           l1.o_orderkey AS k, o.o_custkey, o.o_orderstatus,
           o.o_totalprice, o.o_orderdate, o.o_orderpriority,
           CAST(NULL AS INTEGER) AS o_priority_num
    FROM l1 LEFT OUTER JOIN orders o ON l1.o_orderkey = o.o_orderkey
),
d2 AS (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
           l2.o_orderkey AS k, o.o_custkey, o.o_orderstatus,
           o.o_totalprice, o.o_orderdate, o.o_orderpriority,
           CAST(substr(o.o_orderpriority, 1, 1) AS INTEGER) AS o_priority_num
    FROM l2 LEFT OUTER JOIN orders o ON l2.o_orderkey = o.o_orderkey
),
snap AS (
    SELECT *, CAST(NULL AS INTEGER) AS o_priority_num
    FROM orders WHERE o_orderkey % 3 <> 0
),
s1 AS (
    SELECT s.* FROM snap s
    WHERE NOT EXISTS (SELECT 1 FROM d1 WHERE d1.k = s.o_orderkey)
    UNION ALL
    SELECT k AS o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority, o_priority_num
    FROM d1 WHERE _change_type <> 'D'
),
dall AS (
    SELECT * FROM d2
    UNION ALL
    SELECT * FROM d1 WHERE k NOT IN (SELECT k FROM d2)
),
s2 AS (
    SELECT s.* FROM snap s
    WHERE NOT EXISTS (SELECT 1 FROM dall d WHERE d.k = s.o_orderkey)
    UNION ALL
    SELECT k AS o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority, o_priority_num
    FROM dall WHERE _change_type <> 'D'
)
SELECT 'as_of_split' AS as_of_point, * FROM s1
UNION ALL
SELECT 'final' AS as_of_point, * FROM s2
""",
)
def cdc_materialize_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE schema evolution through the full consumer loop: range 1
    is emitted under the original orders mapping, the mapping is REBUILT
    with a computed column (O28-O30), and range 2 is
    emitted under the evolved mapping — so the sink topic's committed
    ranges genuinely differ in schema, exactly the reference's mid-stream
    DDL case (rebuild mapping -> newer Avro records carry the field).
    materialize_snapshot reconstructs consumer state at TWO as-of points —
    the pre-evolution cut (new column all-NULL: mergeSchema surfaces it,
    no range written it yet) and the final state (keys whose latest change
    predates the rebuild read NULL; keys re-changed after it carry the
    computed value) — both hash-matched against the one-shot SQL
    reconstruction."""
    orders = t(spark, sf_dir, "orders")
    stale = orders.filter(F.col("o_orderkey") % 3 != 0)
    pklog = synthetic_pklog(orders)
    out_dir = _mkdtemp("cdc_mat_evolve_")
    sink = RangeCommitSink(out_dir)
    r1 = C.cdc_delta(orders, pklog, ORDERS_IDENTITY, 0, _SPLIT_TXID)
    r2 = C.cdc_delta(orders, pklog, ORDERS_IDENTITY_EVOLVED, _SPLIT_TXID, 10**9)
    sink.write(ORDERS_IDENTITY.name, _SPLIT_TXID, r1)
    sink.write(ORDERS_IDENTITY.name, 10**9, r2)

    def state(as_of):
        return materialize_snapshot(
            spark, sink, ORDERS_IDENTITY.name, ORDERS_IDENTITY.pkcolumns,
            base=stale, as_of_txid=as_of, evolve_schema=True,
        )

    v1 = state(_SPLIT_TXID).withColumn("as_of_point", F.lit("as_of_split"))
    v2 = state(None).withColumn("as_of_point", F.lit("final"))
    cols = ["as_of_point"] + [
        c.alias for c in ORDERS_IDENTITY_EVOLVED.columnmappings
    ]
    return v1.unionByName(v2).select(*cols)


@register(
    "cdc_pk_change_expand",
    """
WITH ch AS (
    SELECT CAST(1000 + o_orderkey % 50 AS BIGINT) AS transactionid,
           CASE WHEN o_orderkey % 39 = 0 THEN o_orderkey + 2000000
                ELSE o_orderkey END AS new_k,
           o_orderkey AS old_k
    FROM orders WHERE o_orderkey % 13 = 0
)
SELECT transactionid, 'new' AS pk_side, new_k AS o_orderkey FROM ch
UNION ALL
SELECT transactionid, 'old' AS pk_side, old_k FROM ch WHERE new_k <> old_k
""",
)
def cdc_pk_change_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7/E7: a PK update expands to upsert(new PK) + delete-candidate(old
    PK), the update-trigger's two-row emission
    (S4HanaTableMapping.java:194-220)."""
    orders = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    changes = orders.filter(k % 13 == 0).select(
        (F.lit(1000) + k % 50).cast("bigint").alias("transactionid"),
        F.when(k % 39 == 0, k + 2000000).otherwise(k).alias("new_o_orderkey"),
        k.alias("old_o_orderkey"),
    )
    return C.pk_change_expand(changes, ["o_orderkey"])


@register(
    "cdc_order_limit",
    """
SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
)
def cdc_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O27/E18: ORDER BY + LIMIT (TakeOrderedAndProject — per-partition
    top-n, no global sort)."""
    orders = t(spark, sf_dir, "orders")
    return C.order_limit(orders, [F.desc("o_totalprice"), F.asc("o_orderkey")], 10)


@register(
    "cdc_change_view",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()}
SELECT CAST(pk1 AS BIGINT) AS o_orderkey, transactionid AS _transactionid
FROM pklog WHERE table_name = 'orders' AND schema_name = 'S4'
""",
)
def cdc_change_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10: the per-table change view over the shared PKLOG."""
    pklog = synthetic_pklog(t(spark, sf_dir, "orders"))
    return C.change_view(pklog, "orders", "S4", ["o_orderkey"], ["bigint"])


@register(
    "cdc_poll_roundtrip",
    _DELTA_ORACLE_BODY.replace(
        f"_transactionid > {LO} AND _transactionid <= {HI}",
        "_transactionid > 0 AND _transactionid <= "
        "(SELECT max(transactionid) FROM pklog)",
    )
    + """
SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
       l._transactionid,
       l.o_orderkey,
       o.o_custkey,
       upper(o.o_orderstatus) AS o_orderstatus_u,
       o.o_totalprice,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate_d,
       o.o_orderpriority
FROM l LEFT OUTER JOIN orders o ON l.o_orderkey = o.o_orderkey
""",
)
def cdc_poll_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O24 end-to-end under the oracle gate: one FULL poll() invocation —
    watermark computation (no in-flight writers inside the staleness
    window, so hi collapses to the log maximum), impacted-table fan-out,
    the broadcast-strategy delta, and the exactly-once RangeCommitSink —
    then the committed parquet range is read BACK and hash-compared
    against the reference delta SQL over (0, max]. What is verified is
    the whole lifecycle the reference's S4HanaProducer.poll runs per
    interval, including the sink round-trip, not just the delta plan."""
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    txns = synthetic_transactions(orders)
    out_dir = _mkdtemp("cdc_poll_rt_")
    sink = RangeCommitSink(out_dir)
    # now is far past the fixture's order dates, so no transaction falls in
    # the 7200 s staleness window -> the min-active sentinel collapses and
    # hi = max(log txid), covering the entire synthetic feed
    hi = poll(
        spark,
        [ORDERS_MAPPING],
        lambda name: orders,
        pklog,
        txns,
        from_txid=0,
        sink=sink,
        now_ts="2026-01-01 00:00:00",
    )
    if not sink.committed(ORDERS_MAPPING.name, hi):
        # explicit raise: lifecycle gates must survive python -O
        raise AssertionError(f"poll range {hi} never committed")
    return spark.read.parquet(os.path.join(out_dir, ORDERS_MAPPING.name, f"txid_hi={hi}"))


LINEITEM_MAPPING = TableMapping(
    name="lineitem",
    mastertable="lineitem",
    columnmappings=[
        ColumnMapping("l_orderkey", '"L1"."l_orderkey"', "BIGINT"),
        ColumnMapping("l_linenumber", '"L1"."l_linenumber"', "INTEGER"),
        ColumnMapping("l_quantity", '"L1"."l_quantity"', "DOUBLE"),
        ColumnMapping("l_extendedprice", '"L1"."l_extendedprice"', "DOUBLE"),
        ColumnMapping("l_returnflag", '"L1"."l_returnflag"', "NVARCHAR(1)"),
    ],
    pkcolumns=["l_orderkey", "l_linenumber"],
)

_LI_PKLOG_CTE = """
pklog AS (
    SELECT 'S4' AS schema_name, 'U' AS change_type,
           CAST(l_orderkey AS VARCHAR) AS pk1, CAST(l_linenumber AS VARCHAR) AS pk2,
           CAST(1000 + (l_orderkey + 3 * l_linenumber) % 50 AS BIGINT) AS transactionid,
           'lineitem' AS table_name
    FROM lineitem WHERE (l_orderkey + l_linenumber) % 9 = 0
    UNION ALL
    SELECT 'S4', 'D', CAST(l_orderkey + 5000000 AS VARCHAR), CAST(l_linenumber AS VARCHAR),
           CAST(1000 + (l_orderkey + l_linenumber) % 40 AS BIGINT), 'lineitem'
    FROM lineitem WHERE (l_orderkey + l_linenumber) % 17 = 0
)
"""


def _li_pklog(li: DataFrame) -> DataFrame:
    """Compound-key synthetic change feed for lineitem (pk1=l_orderkey,
    pk2=l_linenumber) — arithmetic mirrored in ``_LI_PKLOG_CTE``."""
    k, n = F.col("l_orderkey"), F.col("l_linenumber")
    null_pks = [F.lit(None).cast("string").alias(f"pk{i}") for i in range(3, 7)]

    def leg(pred, ctype, pk1_expr, txid_expr):
        return li.filter(pred).select(
            F.lit("S4").alias("schema_name"),
            F.lit(ctype).alias("change_type"),
            pk1_expr.cast("string").alias("pk1"),
            n.cast("string").alias("pk2"),
            *null_pks,
            txid_expr.cast("bigint").alias("transactionid"),
            F.lit("lineitem").alias("table_name"),
        )

    return leg((k + n) % 9 == 0, "U", k, F.lit(1000) + (k + 3 * n) % 50).unionByName(
        leg((k + n) % 17 == 0, "D", k + 5000000, F.lit(1000) + (k + n) % 40)
    )


@register(
    "cdc_delta_multipk",
    f"""
WITH {_LI_PKLOG_CTE.strip()},
cv AS (
    SELECT CAST(pk1 AS BIGINT) AS l_orderkey, CAST(pk2 AS INTEGER) AS l_linenumber,
           transactionid AS _transactionid
    FROM pklog WHERE table_name = 'lineitem' AND schema_name = 'S4'
),
l AS (
    SELECT max(_transactionid) AS _transactionid, l_orderkey, l_linenumber
    FROM cv WHERE _transactionid > {LO} AND _transactionid <= {HI}
    GROUP BY l_orderkey, l_linenumber
)
SELECT CASE WHEN s.l_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
       l._transactionid, l.l_orderkey, l.l_linenumber,
       s.l_quantity, s.l_extendedprice, s.l_returnflag
FROM l LEFT OUTER JOIN lineitem s
  ON l.l_orderkey = s.l_orderkey AND l.l_linenumber = s.l_linenumber
""",
)
def cdc_delta_multipk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference delta on a COMPOUND primary key (pk1+pk2 — the
    reference stringifies up to six key columns into PKLOG,
    S4HanaProducer.java:99-111; lineitem's natural key is
    (l_orderkey, l_linenumber)): per-key latest dedup groups on both
    columns, the outer join is a two-column conjunctive equi-join, and
    deleted rows carry BOTH key parts from the log side. The change view
    casts each stringified key back to its native source type so the join
    compares bigint/int, never strings."""
    li = t(spark, sf_dir, "lineitem")
    return C.cdc_delta(li, _li_pklog(li), LINEITEM_MAPPING, LO, HI, strategy="broadcast")


@register(
    "cdc_delta_6pk",
    f"""
WITH pklog6 AS (
    SELECT 'S4' AS schema_name, 'U' AS change_type,
           CAST(o_orderkey AS VARCHAR) AS pk1,
           CAST(o_orderkey % 7 AS VARCHAR) AS pk2,
           o_orderpriority AS pk3,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS pk4,
           CAST(o_custkey AS VARCHAR) AS pk5,
           o_orderstatus AS pk6,
           CAST(1000 + o_orderkey % 50 AS BIGINT) AS transactionid,
           'orders6' AS table_name
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT 'S4', 'D', CAST(o_orderkey + 1000000 AS VARCHAR),
           CAST(o_orderkey % 7 AS VARCHAR), o_orderpriority,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d'),
           CAST(o_custkey AS VARCHAR), o_orderstatus,
           CAST(1000 + o_orderkey % 40 AS BIGINT), 'orders6'
    FROM orders WHERE o_orderkey % 11 = 0
),
src AS (
    SELECT o_orderkey AS k1, CAST(o_orderkey % 7 AS INTEGER) AS k2,
           o_orderpriority AS k3, CAST(o_orderdate AS DATE) AS k4,
           o_custkey AS k5, o_orderstatus AS k6, o_totalprice
    FROM orders
),
cv AS (
    SELECT CAST(pk1 AS BIGINT) AS k1, CAST(pk2 AS INTEGER) AS k2, pk3 AS k3,
           CAST(pk4 AS DATE) AS k4, CAST(pk5 AS BIGINT) AS k5, pk6 AS k6,
           transactionid AS _transactionid
    FROM pklog6 WHERE table_name = 'orders6' AND schema_name = 'S4'
),
l AS (
    SELECT max(_transactionid) AS _transactionid, k1, k2, k3, k4, k5, k6
    FROM cv WHERE _transactionid > {LO} AND _transactionid <= {HI}
    GROUP BY k1, k2, k3, k4, k5, k6
)
SELECT CASE WHEN s.k1 IS NULL THEN 'D' ELSE 'A' END AS _change_type,
       l._transactionid, l.k1, l.k2, l.k3,
       strftime(l.k4, '%Y-%m-%d') AS k4, l.k5, l.k6, s.o_totalprice
FROM l LEFT OUTER JOIN src s
  ON l.k1 = s.k1 AND l.k2 = s.k2 AND l.k3 = s.k3 AND l.k4 = s.k4
 AND l.k5 = s.k5 AND l.k6 = s.k6
""",
)
def cdc_delta_6pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's PK-width LIMIT exercised end-to-end: SIX typed key
    columns (bigint, int, varchar, DATE, bigint, varchar) stringified into
    PKLOG's PK1..PK6 (S4HanaProducer.java:99-111 stores nvarchar keys) and
    cast BACK to native types in the change view so dedup, range filter and
    the outer join all compare typed values, never strings
    (S4HanaTableMapping.java:137-139 caps mappings at 6 PKs; the >6
    rejection is unit-tested in tests/test_cdc_scenarios.py). Date keys
    round-trip ISO strings; deleted rows carry ALL SIX key parts from the
    log side."""
    orders = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    src = orders.select(
        k.alias("k1"),
        (k % 7).cast("int").alias("k2"),
        F.col("o_orderpriority").alias("k3"),
        F.col("o_orderdate").cast("date").alias("k4"),
        F.col("o_custkey").alias("k5"),
        F.col("o_orderstatus").alias("k6"),
        "o_totalprice",
    )

    def leg(mod: int, ctype: str, k1_expr, txid_expr):
        return orders.filter(k % mod == 0).select(
            F.col("o_orderdate").alias("change_ts"),
            F.lit("S4").alias("schema_name"),
            F.lit(ctype).alias("change_type"),
            k1_expr.cast("string").alias("pk1"),
            (k % 7).cast("string").alias("pk2"),
            F.col("o_orderpriority").alias("pk3"),
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias("pk4"),
            F.col("o_custkey").cast("string").alias("pk5"),
            F.col("o_orderstatus").alias("pk6"),
            txid_expr.cast("bigint").alias("transactionid"),
            F.lit(1).cast("int").alias("transaction_seq"),
            F.lit("orders6").alias("table_name"),
        )

    pklog = leg(7, "U", k, F.lit(1000) + k % 50).unionByName(
        leg(11, "D", k + 1000000, F.lit(1000) + k % 40)
    )
    mapping = TableMapping(
        name="orders6",
        mastertable="orders6",
        columnmappings=[
            ColumnMapping(c, f'"L1"."{c}"')
            for c in ["k1", "k2", "k3", "k4", "k5", "k6", "o_totalprice"]
        ],
        pkcolumns=["k1", "k2", "k3", "k4", "k5", "k6"],
    )
    delta = C.cdc_delta(src, pklog, mapping, LO, HI, strategy="broadcast")
    return delta.select(
        "_change_type", "_transactionid", "k1", "k2", "k3",
        F.date_format("k4", "yyyy-MM-dd").alias("k4"), "k5", "k6", "o_totalprice",
    )


_POLL2_NOW1 = "1998-08-05 00:00:00"  # inside the fixture's date range -> gated
_POLL2_STALENESS = 604800


@register(
    "cdc_two_poll_advance",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
{TRANSACTIONS_ORACLE_CTE.strip()},
hi1 AS (
    SELECT least(a.max_log, b.min_active) AS v FROM
        (SELECT coalesce(max(transactionid), 9223372036854775807) AS max_log FROM pklog) a,
        (SELECT coalesce(min(update_transaction_id) - 1, 9223372036854775807) AS min_active
         FROM transactions WHERE update_transaction_id > 0
           AND start_time > TIMESTAMP '{_POLL2_NOW1}' - INTERVAL {_POLL2_STALENESS} SECONDS) b
),
hi2 AS (SELECT max(transactionid) AS v FROM pklog),
cv AS (
    SELECT CAST(pk1 AS BIGINT) AS o_orderkey, transactionid AS _transactionid
    FROM pklog WHERE table_name = 'orders' AND schema_name = 'S4'
),
l1 AS (
    SELECT max(_transactionid) AS _transactionid, o_orderkey FROM cv, hi1
    WHERE _transactionid > 0 AND _transactionid <= hi1.v GROUP BY o_orderkey
),
l2 AS (
    SELECT max(_transactionid) AS _transactionid, o_orderkey FROM cv, hi1, hi2
    WHERE _transactionid > hi1.v AND _transactionid <= hi2.v GROUP BY o_orderkey
),
d1 AS (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
           l1._transactionid, l1.o_orderkey, o.o_custkey,
           upper(o.o_orderstatus) AS o_orderstatus_u, o.o_totalprice,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate_d, o.o_orderpriority,
           (SELECT v FROM hi1) AS txid_hi
    FROM l1 LEFT OUTER JOIN orders o ON l1.o_orderkey = o.o_orderkey
),
d2 AS (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
           l2._transactionid, l2.o_orderkey, o.o_custkey,
           upper(o.o_orderstatus) AS o_orderstatus_u, o.o_totalprice,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate_d, o.o_orderpriority,
           (SELECT v FROM hi2) AS txid_hi
    FROM l2 LEFT OUTER JOIN orders o ON l2.o_orderkey = o.o_orderkey
)
SELECT * FROM d1 UNION ALL SELECT * FROM d2
""",
)
def cdc_two_poll_advance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO advancing polls under the oracle gate — the reference's actual
    steady state, where each interval resumes from the previous hi
    watermark. Poll 1 runs with 'now' inside the fixture's date range, so
    open write transactions GATE the watermark below the log maximum
    (commit-order safety, O20); poll 2 runs later with no in-flight
    writers and drains the rest. Each poll's delta lands in its own
    txid_hi partition of the RangeCommitSink; the readback's partition
    column proves which range emitted each row, and the oracle recomputes
    hi1 with the identical watermark SQL so the split is scale-agnostic.
    A PK changed in both ranges legitimately appears twice with different
    transaction ids — exactly what a downstream consumer would see."""
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    txns = synthetic_transactions(orders)
    out_dir = _mkdtemp("cdc_two_poll_")
    sink = RangeCommitSink(out_dir)
    hi1 = poll(
        spark, [ORDERS_MAPPING], lambda name: orders, pklog, txns,
        from_txid=0, sink=sink, now_ts=_POLL2_NOW1,
        staleness_seconds=_POLL2_STALENESS,
    )
    hi2 = poll(
        spark, [ORDERS_MAPPING], lambda name: orders, pklog, txns,
        from_txid=hi1, sink=sink, now_ts="2026-01-01 00:00:00",
    )
    if not hi2 > hi1 >= 0:
        # explicit raise: lifecycle gates must survive python -O
        raise AssertionError(f"polls did not advance: {hi1} -> {hi2}")
    return spark.read.parquet(os.path.join(out_dir, ORDERS_MAPPING.name)).withColumn(
        "txid_hi", F.col("txid_hi").cast("bigint")
    )


@register(
    "cdc_quarantine_poll_lifecycle",
    """
WITH bad AS (
    SELECT 'missing_pk' AS _quarantine_reason FROM orders WHERE o_orderkey % 31 = 0
    UNION ALL
    SELECT 'bad_change_type' FROM orders WHERE o_orderkey % 43 = 0
    UNION ALL
    SELECT 'bad_change_type' FROM orders WHERE o_orderkey % 53 = 0
    UNION ALL
    SELECT 'missing_txid' FROM orders WHERE o_orderkey % 61 = 0
)
SELECT _quarantine_reason, count(*) AS n_rows FROM bad GROUP BY 1
""",
)
def cdc_quarantine_poll_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POLL-LEVEL dead-letter contract: across TWO advancing
    polls over a feed carrying four garbage classes — NULL pk, unknown
    change type, NULL change type, NULL txid — every malformed row lands in
    the DLQ EXACTLY once. The oracle is the one-shot classification of the
    injected legs; parity breaks if (a) any class is dropped (the pre-fix
    hi<=from short-circuit, or the isin() NULL hole), or (b) any row ships
    twice (NULL-txid rows never age out of the scan — poll 2 rescans them
    and must be stopped by the fingerprint side-state; beyond-watermark
    txids are rescanned too and deduped the same way). Exercises the range
    keying by resume point, the bounded bad-row scan, and the persisted
    `_quarantine_seen` dedup in one lifecycle.

    Retention is DISABLED here (``quarantine_retention_seconds=None``):
    this query pins the pure exactly-once dedup contract, and its two
    polls sit 27 years apart in fixture time — under the default 7-day
    retention the second poll would legitimately RE-SHIP everything
    (that behavior has its own oracle, ``cdc_quarantine_retention``)."""
    orders = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = synthetic_pklog(orders)

    def leg(mod: int, ctype_expr, pk_expr, txid_expr):
        null_pks = [F.lit(None).cast("string").alias(f"pk{i}") for i in range(2, 7)]
        return orders.filter(k % mod == 0).select(
            F.col("o_orderdate").alias("change_ts"),
            F.lit("S4").alias("schema_name"),
            ctype_expr.alias("change_type"),
            pk_expr.alias("pk1"),
            *null_pks,
            txid_expr.alias("transactionid"),
            F.lit(1).cast("int").alias("transaction_seq"),
            F.lit("orders").alias("table_name"),
        )

    valid_tx = (F.lit(1000) + k % 50).cast("bigint")
    dirty = (
        base.unionByName(leg(31, F.lit("U"), F.lit(None).cast("string"), valid_tx))
        .unionByName(leg(43, F.lit("X"), k.cast("string"), valid_tx))
        .unionByName(leg(53, F.lit(None).cast("string"), k.cast("string"), valid_tx))
        .unionByName(
            leg(61, F.lit("U"), k.cast("string"), F.lit(None).cast("bigint"))
        )
    )
    txns = synthetic_transactions(orders)
    out_dir = _mkdtemp("cdc_q_poll_")
    sink = RangeCommitSink(out_dir)
    hi1 = poll(
        spark, [ORDERS_MAPPING], lambda name: orders, dirty, txns,
        from_txid=0, sink=sink, now_ts=_POLL2_NOW1,
        staleness_seconds=_POLL2_STALENESS, quarantine=True,
        quarantine_retention_seconds=None,
    )
    hi2 = poll(
        spark, [ORDERS_MAPPING], lambda name: orders, dirty, txns,
        from_txid=hi1, sink=sink, now_ts="2026-01-01 00:00:00", quarantine=True,
        quarantine_retention_seconds=None,
    )
    if not hi2 > hi1 >= 0:
        raise AssertionError(f"polls did not advance: {hi1} -> {hi2}")
    dlq = spark.read.parquet(os.path.join(out_dir, "_quarantine"))
    return dlq.groupBy("_quarantine_reason").agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "cdc_quarantine_retention",
    """
SELECT 'missing_pk' AS _quarantine_reason,
       2 * count(*) AS n_rows,
       count(*) AS n_distinct_rows
FROM orders WHERE o_orderkey % 31 = 0
""",
)
def cdc_quarantine_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25 symmetry for the DLQ fingerprint state: shipped
    fingerprints age out after the retention window instead of deduping
    forever, so the state stays bounded by windowed malformed volume. Three
    polls over the SAME dirty feed: poll 2 lands inside the 7-day window
    (in-window dedup — ships nothing), poll 3 lands past it (fingerprints
    expired — the stale rows RE-SHIP, at-least-once made visible again).
    The oracle pins both effects at once: total DLQ rows = exactly 2× the
    injected leg (one initial ship + one post-expiry re-ship, zero from the
    in-window poll), distinct content = 1× (the re-ship is the same rows)."""
    orders = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = synthetic_pklog(orders)
    null_pks = [F.lit(None).cast("string").alias(f"pk{i}") for i in range(2, 7)]
    garbage = orders.filter(k % 31 == 0).select(
        F.col("o_orderdate").alias("change_ts"),
        F.lit("S4").alias("schema_name"),
        F.lit("U").alias("change_type"),
        F.lit(None).cast("string").alias("pk1"),  # missing PK -> quarantined
        *null_pks,
        # unique per row so DLQ content never collides (the distinct-count
        # oracle leg relies on it); txids on malformed rows are untrusted
        # anyway and never reach the watermark
        (F.lit(1000) + k).cast("bigint").alias("transactionid"),
        F.lit(1).cast("int").alias("transaction_seq"),
        F.lit("orders").alias("table_name"),
    )
    dirty = base.unionByName(garbage)
    txns = synthetic_transactions(orders)
    out_dir = _mkdtemp("cdc_q_retention_")
    sink = RangeCommitSink(out_dir)
    common = dict(
        spark=spark, mappings=[ORDERS_MAPPING],
        load_source=lambda name: orders, pklog=dirty, transactions=txns,
        sink=sink, staleness_seconds=_POLL2_STALENESS, quarantine=True,
    )
    hi1 = poll(**common, from_txid=0, now_ts=_POLL2_NOW1)
    # +3 days: inside the 7-day retention window -> fingerprint dedup holds
    poll(**common, from_txid=hi1, now_ts="1998-08-08 00:00:00")
    # +8 days: past the window -> expired fingerprints stop deduping
    poll(**common, from_txid=hi1, now_ts="1998-08-13 00:00:00")
    dlq = spark.read.parquet(os.path.join(out_dir, "_quarantine"))
    data_cols = [c for c in dlq.columns if c not in ("txid_hi",)]
    return dlq.groupBy("_quarantine_reason").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.struct(*[F.col(c) for c in data_cols])).alias(
            "n_distinct_rows"
        ),
    )


@register(
    "cdc_stream_to_sink",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()}
SELECT CAST(pk1 AS BIGINT) AS o_orderkey, max(transactionid) AS transactionid
FROM pklog GROUP BY 1
""",
)
def cdc_stream_to_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 -> E25 -> E16 end-to-end under the oracle gate: the synthetic
    change log is written to files, read back as a STREAMING source
    (changes_stream), collapsed to the per-PK transaction frontier by the
    custom applyInPandasWithState operator, and delivered through the
    transactional foreachBatch sink (idempotent per-batch commit log — the
    reference's Kafka-transaction semantics, S4HanaProducer.java:424-450).
    AvailableNow drains the backlog in one batch, so the emitted frontier
    equals GROUP BY pk, max(txid) — which is exactly what the oracle
    computes. What is verified is the whole pipeline: file source ->
    state store -> exactly-once sink -> parquet readback."""
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    d = _mkdtemp("cdc_stream_sink_")
    log_dir = os.path.join(d, "log")
    out_dir = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    pklog.write.parquet(log_dir)

    stream = changes_stream(spark, log_dir).select(
        F.col("pk1").cast("bigint").alias("o_orderkey"),
        F.col("transactionid"),
    )
    frontier = stateful_latest_by_key(stream, ["o_orderkey"], "transactionid")
    sink = transactional_sink(out_dir)
    drain(
        frontier.writeStream.outputMode("update").foreachBatch(sink)
        .option("checkpointLocation", ckpt)
    )
    batches = _glob.glob(os.path.join(out_dir, "batch_id=*"))
    # collapse emissions to the final frontier: robust if AvailableNow ever
    # splits the backlog into several batches (each advance re-emits a key)
    return (
        spark.read.parquet(*batches)
        .groupBy("o_orderkey")
        .agg(F.max("transactionid").alias("transactionid"))
    )


@register(
    "cdc_stream_restart_resume",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
f1 AS (
    SELECT CAST(pk1 AS BIGINT) AS k, transactionid AS t FROM pklog WHERE change_type = 'U'
),
f2 AS (
    SELECT CAST(pk1 AS BIGINT) AS k, transactionid AS t FROM pklog WHERE change_type IN ('I', 'D')
),
b0 AS (SELECT k, max(t) AS t FROM f1 GROUP BY k),
b1 AS (
    SELECT f2a.k, f2a.t FROM (SELECT k, max(t) AS t FROM f2 GROUP BY k) f2a
    LEFT JOIN b0 ON b0.k = f2a.k
    WHERE f2a.t > coalesce(b0.t, -1)
)
SELECT 0 AS batch_seq, k AS o_orderkey, t AS transactionid FROM b0
UNION ALL
SELECT 1, k, t FROM b1
""",
)
def cdc_stream_restart_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STOP/RESTART continuity of the streaming pipeline, oracle-checked:
    the update-leg half of the change log streams through the stateful
    frontier and the query STOPS; the insert/delete half arrives and a NEW
    query starts on the SAME checkpoint. The second run must (a) not
    reprocess the first half (file-source offsets resume) and (b) keep the
    per-key frontier ACROSS the restart (state store resumes): a key whose
    second-half transaction does not beat its first-half maximum stays
    silent. Both properties are visible in the per-batch sink output the
    oracle recomputes — a lost checkpoint would re-emit every first-half
    key in batch 1 and fail the hash."""
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    d = _mkdtemp("cdc_restart_")
    log_dir = os.path.join(d, "log")
    out_dir = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(log_dir)

    def _drop(df, fname):
        tmp = os.path.join(d, "w")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(log_dir, fname))

    def _run_once():
        stream = changes_stream(spark, log_dir).select(
            F.col("pk1").cast("bigint").alias("o_orderkey"), F.col("transactionid")
        )
        frontier = stateful_latest_by_key(stream, ["o_orderkey"], "transactionid")
        drain(
            frontier.writeStream.outputMode("update")
            .foreachBatch(transactional_sink(out_dir))
            .option("checkpointLocation", ckpt)
        )

    _drop(pklog.filter(F.col("change_type") == "U"), "poll1.parquet")
    _run_once()  # batch 0: update legs
    _drop(pklog.filter(F.col("change_type").isin("I", "D")), "poll2.parquet")
    _run_once()  # batch 1: NEW query, same checkpoint -> resumes state

    reads = []
    for seq in (0, 1):
        reads.append(
            spark.read.parquet(os.path.join(out_dir, f"batch_id={seq}"))
            .select(
                F.lit(seq).alias("batch_seq"), "o_orderkey", "transactionid"
            )
        )
    return reads[0].unionByName(reads[1])


@register(
    "cdc_snapshot_as_of",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
cv AS (
    SELECT CAST(pk1 AS BIGINT) AS o_orderkey, change_type,
           transactionid, transaction_seq
    FROM pklog WHERE table_name = 'orders' AND schema_name = 'S4'
),
win AS (
    SELECT o_orderkey, transactionid AS last_txid, change_type,
           row_number() OVER (PARTITION BY o_orderkey
                              ORDER BY transactionid DESC, transaction_seq DESC,
                                       CASE change_type WHEN 'D' THEN 3 WHEN 'U' THEN 2
                                            WHEN 'I' THEN 1 ELSE 0 END DESC) AS rn
    FROM cv WHERE transactionid <= 1030
),
w1 AS (SELECT o_orderkey, last_txid, change_type FROM win WHERE rn = 1),
j AS (
    SELECT coalesce(b.o_orderkey, w1.o_orderkey) AS o_orderkey,
           b.o_orderkey IS NOT NULL AS in_base, w1.last_txid, w1.change_type
    FROM orders b FULL OUTER JOIN w1 ON b.o_orderkey = w1.o_orderkey
)
SELECT o_orderkey, last_txid, coalesce(change_type, 'B') AS last_change_type
FROM j
WHERE (change_type IS NULL AND in_base) OR (change_type IS NOT NULL AND change_type <> 'D')
""",
)
def cdc_snapshot_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the change log: table key membership AS OF
    transaction 1030 — baseline snapshot keys plus inserts, minus keys
    whose latest change at or below the cutoff is a delete (winner per key
    = max (txid, seq, type), engine-independent order). The reference
    stitches initial load + delta by a captured txid
    (S4HanaProducer.java:500-580); this evaluates that stitch at an
    arbitrary past point, the primitive behind reproducible training-data
    snapshots."""
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    cv = pklog.filter(
        (F.col("table_name") == "orders") & (F.col("schema_name") == "S4")
    ).select(
        F.col("pk1").cast("bigint").alias("o_orderkey"),
        "change_type",
        "transactionid",
        "transaction_seq",
    )
    return C.snapshot_as_of(
        orders,
        cv,
        ["o_orderkey"],
        as_of_txid=1030,
        ord_col="transactionid",
    )


@register(
    "cdc_scd2_history",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
cv AS (
    SELECT CAST(pk1 AS BIGINT) AS o_orderkey, change_type,
           transactionid AS _transactionid
    FROM pklog WHERE table_name = 'orders' AND schema_name = 'S4'
),
v AS (
    SELECT o_orderkey, change_type, _transactionid,
           _transactionid AS valid_from,
           lead(_transactionid) OVER (PARTITION BY o_orderkey ORDER BY _transactionid, change_type) AS valid_to
    FROM cv
)
SELECT o_orderkey, change_type, _transactionid, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM v WHERE change_type <> 'D'
""",
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 extension: SCD2 version intervals reconstructed from the change
    feed — one window pass, each non-delete change valid until the key's
    next change; deletes terminate without opening a version."""
    pklog = synthetic_pklog(t(spark, sf_dir, "orders"))
    cv = pklog.filter(
        (F.col("table_name") == "orders") & (F.col("schema_name") == "S4")
    ).select(
        F.col("pk1").cast("bigint").alias("o_orderkey"),
        "change_type",
        F.col("transactionid").alias("_transactionid"),
    )
    out = C.scd2_versions(cv, ["o_orderkey"])
    return out.select(
        "o_orderkey",
        "change_type",
        "_transactionid",
        F.col("__valid_from").alias("valid_from"),
        F.col("__valid_to").alias("valid_to"),
        F.col("__is_current").alias("is_current"),
    )


@register(
    "cdc_consistent_cut",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
{TRANSACTIONS_ORACLE_CTE.strip()},
li_log AS (
    SELECT CAST(l_orderkey AS VARCHAR) AS pk1,
           CAST(l_linenumber AS VARCHAR) AS pk2,
           CAST(1000 + l_orderkey % 50 AS BIGINT) AS transactionid
    FROM lineitem WHERE l_orderkey % 7 = 0
),
a AS (
    SELECT coalesce(max(transactionid), 9223372036854775807) AS max_log
    FROM (SELECT transactionid FROM pklog UNION ALL SELECT transactionid FROM li_log)
),
b AS (
    SELECT coalesce(min(update_transaction_id) - 1, 9223372036854775807) AS min_active
    FROM transactions
    WHERE update_transaction_id > 0
      AND start_time > TIMESTAMP '{_WM_NOW}' - INTERVAL {_WM_STALENESS} SECONDS
),
wm AS (
    SELECT CASE WHEN least(max_log, min_active) = 9223372036854775807
                THEN {LO} ELSE least(max_log, min_active) END AS maxtxid
    FROM a, b
),
ch_o AS (
    SELECT DISTINCT pk1 FROM pklog, wm
    WHERE table_name = 'orders' AND transactionid > {LO} AND transactionid <= wm.maxtxid
),
ch_l AS (
    SELECT DISTINCT pk1, pk2 FROM li_log, wm
    WHERE transactionid > {LO} AND transactionid <= wm.maxtxid
),
orph AS (
    SELECT count(*) AS n_orphan_parents FROM (
        SELECT DISTINCT pk1 FROM ch_l
        WHERE pk1 NOT IN (SELECT pk1 FROM ch_o)
    )
)
SELECT wm.maxtxid,
       (SELECT count(*) FROM ch_o) AS n_orders_changed,
       (SELECT count(*) FROM ch_l) AS n_lineitem_changed,
       orph.n_orphan_parents
FROM wm, orph
""",
)
def cdc_consistent_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table transactionally-consistent cut: ONE safe watermark
    computed over the UNION of both tables' change logs, then both deltas
    read up to that same txid — the property the reference relies on when a
    business object spans master + detail tables (one HANA transaction
    writes both logs with one txid; cutting every table at the same safe
    txid means no child change can surface before its parent's transaction,
    S4HanaProducer.java:317-368 applied across the tabledirectory fan-out).
    The audit column proves it: lineitem parent keys changed in the range
    with no matching orders-log entry in the SAME range are zero, because a
    shared transaction id lands on both sides of the cut or neither.
    Physical shape: the union log reduces to two 1-row partial aggregates
    (cost independent of log size), the watermark broadcasts into the range
    filters, and the three counts are 1-row aggregates cross-joined — one
    row out, nothing collected."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    log_o = synthetic_pklog(orders)
    lk = F.col("l_orderkey")
    log_l = li.filter(lk % 7 == 0).select(
        F.col("l_shipdate").alias("change_ts"),
        F.lit("S4").alias("schema_name"),
        F.lit("U").alias("change_type"),
        lk.cast("string").alias("pk1"),
        F.col("l_linenumber").cast("string").alias("pk2"),
        *[F.lit(None).cast("string").alias(f"pk{i}") for i in range(3, 7)],
        (F.lit(1000) + lk % 50).cast("bigint").alias("transactionid"),
        F.lit(1).cast("int").alias("transaction_seq"),
        F.lit("lineitem").alias("table_name"),
    )
    union_log = log_o.unionByName(log_l)
    wm = C.watermark(
        union_log,
        synthetic_transactions(orders),
        _WM_NOW,
        min_transactionid=LO,
        staleness_seconds=_WM_STALENESS,
    ).select("maxtxid")

    def in_range(df: DataFrame) -> DataFrame:
        return df.crossJoin(F.broadcast(wm)).filter(
            (F.col("transactionid") > LO)
            & (F.col("transactionid") <= F.col("maxtxid"))
        )

    ch_o = in_range(log_o).select("pk1").distinct()
    ch_l = in_range(log_l).select("pk1", "pk2").distinct()
    orph = ch_l.select("pk1").distinct().join(ch_o, "pk1", "left_anti")
    return (
        wm.crossJoin(F.broadcast(ch_o.agg(F.count(F.lit(1)).alias("n_orders_changed"))))
        .crossJoin(F.broadcast(ch_l.agg(F.count(F.lit(1)).alias("n_lineitem_changed"))))
        .crossJoin(F.broadcast(orph.agg(F.count(F.lit(1)).alias("n_orphan_parents"))))
        .select("maxtxid", "n_orders_changed", "n_lineitem_changed", "n_orphan_parents")
    )


@register(
    "cdc_incremental_agg",
    """
WITH batch AS (
    SELECT 'U' AS ct, o_orderkey AS k, o_totalprice + 10 AS price,
           CASE WHEN o_orderkey % 14 = 0 THEN '1-URGENT' ELSE o_orderpriority END AS pri
    FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
    UNION ALL
    SELECT 'D', o_orderkey, CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
    FROM orders WHERE o_orderkey % 11 = 0
    UNION ALL
    SELECT 'I', o_orderkey + 2000000, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 13 = 0
),
merged AS (
    SELECT o.o_totalprice AS price, o.o_orderpriority AS pri
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.k = o.o_orderkey)
    UNION ALL
    SELECT price, pri FROM batch WHERE ct <> 'D'
)
SELECT pri AS o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM merged GROUP BY pri
""",
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from the change feed
    (operators/cdc.py maintain_grouped_agg): per-priority order count and
    revenue maintained ALGEBRAICALLY under a merge batch of updates (price
    bump, some rows moving priority group), real-key deletes and fresh
    inserts — base aggregate minus displaced snapshot contributions plus
    surviving batch contributions. The ORACLE is full recomputation over
    the merged table, so the hash gate proves maintenance == recompute —
    including group moves (row leaves '3-MEDIUM', arrives '1-URGENT') and
    delete-only groups. The snapshot is touched once, by a broadcast
    semi-join on the delta's PKs; everything else is delta- or
    |groups|-sized."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    upd = o.filter((k % 7 == 0) & (k % 11 != 0)).select(
        F.lit("U").alias("_change_type"),
        k.alias("o_orderkey"),
        (F.col("o_totalprice") + 10).alias("o_totalprice"),
        F.when(k % 14 == 0, F.lit("1-URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    dels = o.filter(k % 11 == 0).select(
        F.lit("D").alias("_change_type"),
        k.alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("o_orderpriority"),
    )
    ins = o.filter(k % 13 == 0).select(
        F.lit("I").alias("_change_type"),
        (k + 2000000).alias("o_orderkey"),
        F.col("o_totalprice"),
        F.col("o_orderpriority"),
    )
    batch = upd.unionByName(dels).unionByName(ins)
    maintained = C.maintain_grouped_agg(
        o.select("o_orderkey", "o_totalprice", "o_orderpriority"),
        batch,
        pk_names=["o_orderkey"],
        group_cols=["o_orderpriority"],
        measure_col="o_totalprice",
    )
    return maintained.select(
        "o_orderpriority",
        F.col("n_rows").alias("n_orders"),
        F.col("measure_sum").cast("double").alias("revenue"),
    )


@register(
    "cdc_snapshot_diff",
    """
WITH newt AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 10, o_orderdate,
           CASE WHEN o_orderkey % 14 = 0 THEN '1-URGENT' ELSE o_orderpriority END
    FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
    UNION ALL
    SELECT o_orderkey + 2000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 13 = 0
)
SELECT * FROM (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                WHEN (o.o_custkey IS DISTINCT FROM n.o_custkey)
                  OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                  OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                  OR (o.o_orderdate IS DISTINCT FROM n.o_orderdate)
                  OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
                THEN 'U' END AS _change_type,
           coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           n.o_custkey, n.o_orderstatus, n.o_totalprice,
           strftime(n.o_orderdate, '%Y-%m-%d') AS o_orderdate_d,
           n.o_orderpriority
    FROM orders o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey
) WHERE _change_type IS NOT NULL
""",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed BOOTSTRAP (operators/cdc.py snapshot_diff): derive the
    CDC batch by diffing two snapshot versions — the inverse of
    apply_changes, for sources with no trigger/log infrastructure yet
    (the reference cannot capture anything until its triggers exist,
    O6-O8; diffing versions feeds the same consumers meanwhile). The
    synthetic 'new' version applies the same update/delete/insert
    arithmetic as cdc_incremental_agg; the diff classifies I/D/U with
    null-safe column comparison, deletes carrying their PK with NULL
    attributes exactly like cdc_delta's delete rows. One full-outer join
    on PK (bucket both versions for shuffle-free); output is delta-sized.
    ``apply_changes(old, diff) == new`` is asserted in
    tests/test_cdc_scenarios.py."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    untouched = o.filter((k % 7 != 0) & (k % 11 != 0))
    upd = (
        o.filter((k % 7 == 0) & (k % 11 != 0))
        .withColumn("o_totalprice", F.col("o_totalprice") + 10)
        .withColumn(
            "o_orderpriority",
            F.when(k % 14 == 0, F.lit("1-URGENT")).otherwise(F.col("o_orderpriority")),
        )
    )
    ins = o.filter(k % 13 == 0).withColumn("o_orderkey", k + 2000000)
    new = untouched.unionByName(upd).unionByName(ins)
    diff = C.snapshot_diff(o, new, ["o_orderkey"])
    return diff.select(
        "_change_type",
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_d"),
        "o_orderpriority",
    )


@register(
    "cdc_incremental_agg_images",
    """
WITH batch AS (
    SELECT 'U' AS ct,
           o_orderpriority AS old_pri, o_totalprice AS old_price,
           CASE WHEN o_orderkey % 14 = 0 THEN '1-URGENT' ELSE o_orderpriority END AS new_pri,
           o_totalprice + 10 AS new_price
    FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
    UNION ALL
    SELECT 'D', o_orderpriority, o_totalprice, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
    FROM orders WHERE o_orderkey % 11 = 0
    UNION ALL
    SELECT 'I', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), o_orderpriority, o_totalprice
    FROM orders WHERE o_orderkey % 13 = 0
),
merged AS (
    SELECT o_totalprice AS price, o_orderpriority AS pri
    FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
    UNION ALL
    SELECT new_price, new_pri FROM batch WHERE ct <> 'D'
)
SELECT pri AS o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM merged GROUP BY pri
""",
)
def cdc_incremental_agg_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance from BEFORE/AFTER row images
    (operators/cdc.py maintain_grouped_agg_from_images): the same merge
    batch as cdc_incremental_agg, but the feed carries old+new values, so
    the 100 TB snapshot is NEVER touched — base aggregate minus old-image
    contributions plus new-image contributions, one |batch|-row pass folded
    into |groups| rows. Oracle = full recomputation over the merged table:
    the hash gate proves image-based maintenance == recompute, including
    priority-group moves, delete-only shrinkage and insert growth."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    upd = o.filter((k % 7 == 0) & (k % 11 != 0)).select(
        F.lit("U").alias("_change_type"),
        F.col("o_orderpriority").alias("old_o_orderpriority"),
        F.col("o_totalprice").alias("old_o_totalprice"),
        F.when(k % 14 == 0, F.lit("1-URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("new_o_orderpriority"),
        (F.col("o_totalprice") + 10).alias("new_o_totalprice"),
    )
    dels = o.filter(k % 11 == 0).select(
        F.lit("D").alias("_change_type"),
        F.col("o_orderpriority").alias("old_o_orderpriority"),
        F.col("o_totalprice").alias("old_o_totalprice"),
        F.lit(None).cast("string").alias("new_o_orderpriority"),
        F.lit(None).cast("double").alias("new_o_totalprice"),
    )
    ins = o.filter(k % 13 == 0).select(
        F.lit("I").alias("_change_type"),
        F.lit(None).cast("string").alias("old_o_orderpriority"),
        F.lit(None).cast("double").alias("old_o_totalprice"),
        F.col("o_orderpriority").alias("new_o_orderpriority"),
        F.col("o_totalprice").alias("new_o_totalprice"),
    )
    batch = upd.unionByName(dels).unionByName(ins)
    base = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("measure_sum"),
    )
    maintained = C.maintain_grouped_agg_from_images(
        base, batch, group_col="o_orderpriority", measure_col="o_totalprice"
    )
    return maintained.select(
        "o_orderpriority",
        F.col("n_rows").alias("n_orders"),
        F.col("measure_sum").cast("double").alias("revenue"),
    )


@register(
    "cdc_apply_changes_straggler",
    """
WITH snap AS (
    SELECT o_orderkey, o_orderstatus, upper(o_orderpriority) AS note
    FROM orders
),
upd AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 9 = 0 AND o_orderkey % 11 <> 0),
del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 11 = 0),
ins AS (SELECT o_orderkey + 5000000 AS o_orderkey FROM orders WHERE o_orderkey % 10 = 0)
SELECT s.o_orderkey,
       CASE WHEN u.o_orderkey IS NOT NULL THEN 'X' ELSE s.o_orderstatus END AS o_orderstatus,
       s.note
FROM snap s
LEFT JOIN upd u ON s.o_orderkey = u.o_orderkey
LEFT JOIN del d ON s.o_orderkey = d.o_orderkey
WHERE d.o_orderkey IS NULL
UNION ALL
SELECT o_orderkey, 'N', CAST(NULL AS VARCHAR) FROM ins
""",
)
def cdc_apply_changes_straggler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRAGGLER-batch apply under the oracle gate: the snapshot carries a
    column (``note``) a pre-rebuild batch does not — legal backward
    evolution the drift gate approves (writer-only fields) — and the merge
    must treat the missing column as UNCHANGED: updated rows keep their
    snapshot ``note``, inserted rows read NULL, deletes remove. Pre-fix
    this crashed on an unresolved column; the oracle is the three-way
    merge spelled out in SQL, so 'missing means unchanged' is now a
    hash-gated contract, not just a unit test."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    snap = o.select(
        "o_orderkey", "o_orderstatus", F.upper("o_orderpriority").alias("note")
    )
    upd = o.filter((k % 9 == 0) & (k % 11 != 0)).select(
        F.lit("U").alias("_change_type"), F.lit(1).alias("_transactionid"),
        "o_orderkey", F.lit("X").alias("o_orderstatus"),
    )
    dels = o.filter(k % 11 == 0).select(
        F.lit("D").alias("_change_type"), F.lit(1).alias("_transactionid"),
        "o_orderkey", F.lit(None).cast("string").alias("o_orderstatus"),
    )
    ins = o.filter(k % 10 == 0).select(
        F.lit("I").alias("_change_type"), F.lit(1).alias("_transactionid"),
        (k + 5000000).alias("o_orderkey"), F.lit("N").alias("o_orderstatus"),
    )
    batch = upd.unionByName(dels).unionByName(ins)  # no `note` column anywhere
    return C.apply_changes(snap, batch, ["o_orderkey"], drift_mode="backward")


@register(
    "cdc_apply_changes_evolving",
    _DELTA_ORACLE_BODY
    + """
, delta AS (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
           l._transactionid, l.o_orderkey, o.o_custkey, o.o_orderstatus,
           o.o_totalprice, o.o_orderdate, o.o_orderpriority,
           CASE WHEN o.o_orderkey IS NULL THEN CAST(NULL AS VARCHAR)
                WHEN o.o_orderkey % 3 = 0 THEN 'web' ELSE 'direct' END AS o_channel
    FROM l LEFT OUTER JOIN orders o ON l.o_orderkey = o.o_orderkey
)
SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
       o.o_orderdate, o.o_orderpriority, CAST(NULL AS VARCHAR) AS o_channel
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = o.o_orderkey)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, o_channel
FROM delta WHERE _change_type <> 'D'
""",
)
def cdc_apply_changes_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 under additive schema evolution (the reference's mid-stream DDL
    case, O28-O29: source gains a column, the rebuilt mapping's deltas
    carry it): apply_changes(evolve_schema=True) merges a batch that has a
    NEW ``o_channel`` column onto the old-schema snapshot — untouched rows
    surface NULL for it (backward-compatible, exactly like a rebuilt Avro
    schema with a nullable addition), upserts carry the value. Same single
    PK shuffle per leg as plain apply_changes."""
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    batch = C.cdc_delta(orders, pklog, ORDERS_IDENTITY, LO, HI).withColumn(
        "o_channel",
        F.when(F.col("_change_type") == "D", F.lit(None).cast("string"))
        .when(F.col("o_orderkey") % 3 == 0, F.lit("web"))
        .otherwise(F.lit("direct")),
    )
    return C.apply_changes(orders, batch, ["o_orderkey"], evolve_schema=True)


@register(
    "streaming_incremental_agg",
    """
WITH batch AS (
    SELECT 'U' AS ct,
           o_orderpriority AS old_pri, o_totalprice AS old_price,
           CASE WHEN o_orderkey % 14 = 0 THEN '1-URGENT' ELSE o_orderpriority END AS new_pri,
           o_totalprice + 10 AS new_price
    FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
    UNION ALL
    SELECT 'D', o_orderpriority, o_totalprice, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
    FROM orders WHERE o_orderkey % 11 = 0
    UNION ALL
    SELECT 'I', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), o_orderpriority, o_totalprice
    FROM orders WHERE o_orderkey % 13 = 0
),
merged AS (
    SELECT o_totalprice AS price, o_orderpriority AS pri
    FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
    UNION ALL
    SELECT new_price, new_pri FROM batch WHERE ct <> 'D'
)
SELECT pri AS o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM merged GROUP BY pri
""",
)
def streaming_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-on materialized-view maintenance through the REAL streaming
    engine: the before/after-image feed lands as three poll files, a file
    stream drains them one micro-batch each (maxFilesPerTrigger=1), and
    foreachBatch folds every batch into versioned aggregate state with
    maintain_grouped_agg_from_images — the snapshot is read exactly once
    (the base aggregate), then never again. Because image maintenance is
    additive, ANY split of the feed across micro-batches converges to the
    same state; the oracle recomputes over the fully-merged table, so the
    hash gate proves the streaming fold == batch recompute. State versions
    are written per batch id (replay-safe: a re-delivered batch overwrites
    its own version, the successor always reads its predecessor)."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    upd = o.filter((k % 7 == 0) & (k % 11 != 0)).select(
        k.alias("o_orderkey"),
        F.lit("U").alias("_change_type"),
        F.col("o_orderpriority").alias("old_pri"),
        F.col("o_totalprice").alias("old_price"),
        F.when(k % 14 == 0, F.lit("1-URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("new_pri"),
        (F.col("o_totalprice") + 10).alias("new_price"),
    )
    dels = o.filter(k % 11 == 0).select(
        k.alias("o_orderkey"),
        F.lit("D").alias("_change_type"),
        F.col("o_orderpriority").alias("old_pri"),
        F.col("o_totalprice").alias("old_price"),
        F.lit(None).cast("string").alias("new_pri"),
        F.lit(None).cast("double").alias("new_price"),
    )
    ins = o.filter(k % 13 == 0).select(
        k.alias("o_orderkey"),
        F.lit("I").alias("_change_type"),
        F.lit(None).cast("string").alias("old_pri"),
        F.lit(None).cast("double").alias("old_price"),
        F.col("o_orderpriority").alias("new_pri"),
        F.col("o_totalprice").alias("new_price"),
    )
    feed = upd.unionByName(dels).unionByName(ins)

    d = _mkdtemp("stream_inc_agg_")
    feed_dir = os.path.join(d, "feed")
    state_dir = os.path.join(d, "state")
    ckpt = os.path.join(d, "ckpt")
    # three "polls": the feed split by key bucket, one file each
    for b in range(3):
        feed.filter(k % 3 == b).drop("o_orderkey").coalesce(1).write.parquet(
            os.path.join(feed_dir, f"poll={b}")
        )

    base = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("measure_sum"),
    )
    base.write.parquet(os.path.join(state_dir, "v_base"))

    schema = (
        "_change_type string, old_pri string, old_price double, "
        "new_pri string, new_price double"
    )

    def fold(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        state = _state_before(s, state_dir, "v", batch_id)
        new_state = C.maintain_grouped_agg_from_images(
            state, batch_df, group_col="pri", measure_col="price"
        )
        new_state.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v_{batch_id:06d}")
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed_dir, "poll=*"))
    )
    drain(
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
    )
    final = sorted(_glob.glob(os.path.join(state_dir, "v_0*")))[-1]
    return spark.read.parquet(final).select(
        F.col("pri").alias("o_orderpriority"),
        F.col("n_rows").alias("n_orders"),
        F.col("measure_sum").cast("double").alias("revenue"),
    )


@register(
    "streaming_apply_changes",
    _DELTA_ORACLE_BODY
    + """
, delta AS (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS _change_type,
           l._transactionid, l.o_orderkey, o.o_custkey, o.o_orderstatus,
           o.o_totalprice, o.o_orderdate, o.o_orderpriority
    FROM l LEFT OUTER JOIN orders o ON l.o_orderkey = o.o_orderkey
)
SELECT o.* FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = o.o_orderkey)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM delta WHERE _change_type <> 'D'
""",
)
def streaming_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL consumer loop through the real streaming
    engine: the PKLOG change feed lands as two poll files (split by txid),
    and every micro-batch runs batch ``poll()`` (poll_each_batch) — safe
    watermark, per-PK latest dedup of the range's keys, the join against
    the source for current values, delete classification — into a
    RangeCommitSink. The committed ranges are then MERGEd onto the source
    snapshot with materialize_snapshot. The final table must equal the
    one-shot batch merge over the same (LO, HI] range (the
    cdc_apply_changes oracle). Each batch reads the log by txid range, so
    delivery cannot run out of order."""
    orders = t(spark, sf_dir, "orders")
    txid = F.col("transactionid")
    pklog = synthetic_pklog(orders).filter((txid > LO) & (txid <= HI))
    mid = (LO + HI) // 2
    sink = _stream_polls(
        spark, "stream_apply_", [pklog.filter(txid <= mid), pklog.filter(txid > mid)],
        [ORDERS_IDENTITY], {"orders": orders}, LO,
    )
    return materialize_snapshot(
        spark, sink, ORDERS_IDENTITY.name, ["o_orderkey"], base=orders
    )


@register(
    "cdc_nested_bo_maintenance",
    """
WITH li0 AS (
    -- PK-unique detail table: the raw fixture duplicates
    -- (l_orderkey, l_linenumber), so the BO detail is the per-line
    -- aggregate, identically on both engines
    SELECT l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS l_quantity,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS l_extendedprice
    FROM lineitem GROUP BY 1, 2
),
merged_orders AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 37 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE NOT (o_orderkey % 41 = 3 AND NOT o_orderkey % 37 = 0)
),
merged_li AS (
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_orderkey % 43 = 5 THEN l_quantity + 1
                ELSE l_quantity END AS l_quantity
    FROM li0
    WHERE NOT (l_orderkey % 47 = 7 AND l_linenumber = 1 AND NOT l_orderkey % 43 = 5)
)
SELECT o.o_orderkey, o.o_orderstatus,
       count(l.l_orderkey) AS n_items,
       CAST(coalesce(sum(CAST(l.l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS qty_sum
FROM merged_orders o LEFT JOIN merged_li l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_orderstatus
""",
)
def cdc_nested_bo_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental nested-BO maintenance: master and detail
    CDC batches arrive, and ONLY the affected nested documents are re-nested
    and merged over the prior snapshot (operators/nesting.py
    maintain_nested_docs). The oracle recomputes the nested summary from a
    FULL re-nest of the merged tables, so the gate proves incremental ==
    recompute: updated masters (price doubled), deleted masters (doc
    removed), updated details (qty+1 re-aggregated), deleted details
    (item dropped) and untouched documents (carried through the anti-join
    unchanged) all hash together. Plan-audited: the re-nest legs are
    delta-sized broadcast semi-joins, never a rebuild of the doc table
    (tests/test_plans.py)."""
    from s4hanaconnector_spark.operators.nesting import maintain_nested_docs, nest

    orders = t(spark, sf_dir, "orders")
    # PK-unique detail table (the raw fixture duplicates the
    # (l_orderkey, l_linenumber) key): per-line aggregate, decimal-summed
    # so both engines agree bit-for-bit
    li = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double").alias("l_quantity"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").alias("l_extendedprice"),
        )
    )
    k, lk = F.col("o_orderkey"), F.col("l_orderkey")

    # synthetic but disjoint U/D batches (PK-complete delete rows, the
    # cdc_delta output shape), one transaction
    mb_u = (
        orders.filter(k % 37 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .select(F.lit("U").alias("_change_type"), F.lit(1).alias("_transactionid"), "*")
    )
    mb_d = orders.filter((k % 41 == 3) & ~(k % 37 == 0)).select(
        F.lit("D").alias("_change_type"),
        F.lit(1).alias("_transactionid"),
        "o_orderkey",
        *[F.lit(None).cast(orders.schema[c].dataType).alias(c)
          for c in orders.columns if c != "o_orderkey"],
    )
    master_batch = mb_u.unionByName(mb_d)
    db_u = (
        li.filter(lk % 43 == 5)
        .withColumn("l_quantity", F.col("l_quantity") + 1)
        .select(F.lit("U").alias("_change_type"), F.lit(1).alias("_transactionid"), "*")
    )
    db_d = li.filter(
        (lk % 47 == 7) & (F.col("l_linenumber") == 1) & ~(lk % 43 == 5)
    ).select(
        F.lit("D").alias("_change_type"),
        F.lit(1).alias("_transactionid"),
        "l_orderkey",
        "l_linenumber",
        *[F.lit(None).cast(li.schema[c].dataType).alias(c)
          for c in li.columns if c not in ("l_orderkey", "l_linenumber")],
    )
    detail_batch = db_u.unionByName(db_d)

    # Eager lineage cut between the MERGE and the MAINTENANCE legs:
    # maintain_nested_docs consumes each merged table in
    # several legs (semi-join pruning, affected-key derivation, the
    # re-nest), so without the cut every leg re-embeds — and Catalyst
    # re-analyzes — the whole apply_changes subtree; composed
    # merge+maintain chains grow analysis cost superlinearly (86 shuffles
    # in the uncut static plan). WHEN to cut: whenever a merge output fans
    # into 2+ maintenance legs. At 100 TB the same cut is free: the merged
    # table is the CDC apply target anyway — write it to its sink and read
    # it back instead of localCheckpoint (same lineage cut, durable).
    merged_m = C.apply_changes(orders, master_batch, ["o_orderkey"]).localCheckpoint(
        eager=True
    )
    merged_d = C.apply_changes(
        li, detail_batch, ["l_orderkey", "l_linenumber"]
    ).localCheckpoint(eager=True)
    jc = [{"left": "o_orderkey", "right": "l_orderkey"}]
    dcols = ["l_linenumber", "l_quantity", "l_extendedprice"]
    snapshot0 = nest(
        orders, li, joincondition=jc, schemafield="items",
        detail_cols=dcols, sort_detail_by=["l_linenumber"],
    )
    maintained = maintain_nested_docs(
        snapshot0, merged_m, merged_d, master_batch, detail_batch,
        master_pk=["o_orderkey"], joincondition=jc, schemafield="items",
        detail_cols=dcols, sort_detail_by=["l_linenumber"],
    )
    return maintained.select(
        "o_orderkey",
        "o_orderstatus",
        F.size("items").cast("long").alias("n_items"),
        F.expr(
            "CAST(aggregate(items, CAST(0 AS DECIMAL(18,2)), "
            "(acc, x) -> CAST(acc + CAST(x.l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("qty_sum"),
    )


@register(
    "streaming_pk_update",
    """
SELECT CASE WHEN o_orderkey % 39 = 0 THEN o_orderkey + 2000000
            ELSE o_orderkey END AS o_orderkey,
       o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
""",
)
def streaming_pk_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-UPDATE expansion inside the real streaming engine.
    A batch of source updates where some rows CHANGE THEIR PRIMARY KEY is
    expanded trigger-style (pk_change_expand, O7/E7 — new-key row always,
    old-key row when the PK moved, S4HanaTableMapping.java:194-220) into
    PKLOG rows and streamed through a file source; each micro-batch runs
    batch ``poll()`` (the full delta pipeline) and materialize_snapshot
    merges the committed ranges onto the source snapshot. The old key is
    absent from the post-change source, so the delta classifies it 'D' and
    the merge REMOVES it, while the new key upserts with its payload —
    upsert(new) + delete(old) in one maintained snapshot. The oracle states
    the end-to-end contract directly: the final state equals the source
    with keys moved and payloads bumped."""
    orders = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    movers = k % 39 == 0          # PK changes (39 = 3*13 -> subset of payload)
    payload = k % 13 == 0         # payload update (includes every mover)

    # the post-change source table (what the database looks like AFTER the
    # transaction that moved the keys)
    orders_new = orders.withColumn(
        "o_totalprice",
        F.when(payload, F.col("o_totalprice") + 1).otherwise(F.col("o_totalprice")),
    ).withColumn("o_orderkey", F.when(movers, k + 2000000).otherwise(k))

    # trigger-side emission: one change row per updated source row, carrying
    # old+new key; pk_change_expand fans out to new-side (+old-side if moved)
    changes = orders.filter(payload).select(
        (F.lit(1000) + k % 50).cast("bigint").alias("transactionid"),
        F.when(movers, k + 2000000).otherwise(k).alias("new_o_orderkey"),
        k.alias("old_o_orderkey"),
    )
    expanded = C.pk_change_expand(changes, ["o_orderkey"])
    pklog = expanded.select(
        F.current_timestamp().alias("change_ts"),
        F.lit("S4").alias("schema_name"),
        F.lit("U").alias("change_type"),
        F.col("o_orderkey").cast("string").alias("pk1"),
        *[F.lit(None).cast("string").alias(f"pk{i}") for i in range(2, 7)],
        F.col("transactionid"),
        F.lit(1).cast("int").alias("transaction_seq"),
        F.lit("orders").alias("table_name"),
    )

    sink = _stream_polls(
        spark, "stream_pkupd_", [pklog], [ORDERS_IDENTITY], {"orders": orders_new}, 0
    )
    return materialize_snapshot(
        spark, sink, ORDERS_IDENTITY.name, ["o_orderkey"], base=orders
    )


@register(
    "source_csv_roundtrip",
    """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders WHERE o_orderkey % 4 = 0
GROUP BY o_orderpriority
""",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source surface (sources/files.py): a deterministic orders subset
    is exported to CSV in-query and read back with an EXPLICIT schema
    (never inferSchema — it scans twice and types drift), then aggregated.
    The oracle computes the same aggregate straight from the parquet
    fixture, so the gate proves the CSV round trip is value-exact through
    the text format — including decimal-sensitive money via the string
    representation. Projection pruning applies to the CSV scan like any
    source; this is the extract-file ingestion path a Spark deployment of
    the reference uses when JDBC isn't reachable."""
    from s4hanaconnector_spark.sources.files import read_csv

    sub = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
    )
    d = _mkdtemp("csv_src_")
    path = os.path.join(d, "orders_csv")
    sub.write.option("header", "true").csv(path)
    back = read_csv(
        spark,
        path,
        schema="o_orderkey bigint, o_totalprice double, o_orderpriority string",
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )


@register(
    "source_json_roundtrip",
    """
SELECT o_orderkey,
       o_custkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderkey % 5 AS tag_count
FROM orders WHERE o_orderkey % 9 = 0
""",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-delimited JSON source surface with NESTED types: each exported
    record carries a struct (meta.custkey/orderdate-as-string) and an array
    of tags; the explicit read schema types them natively (struct access +
    size(), no string parsing). The oracle rebuilds the same flat view from
    the fixture, proving nested JSON round-trips typed end-to-end. Explicit
    schema keeps the scan single-pass; a malformed line would land in
    _corrupt_record instead of failing the job (tests/test_sources_files)."""
    from s4hanaconnector_spark.sources.files import read_json

    sub = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 9 == 0)
        .select(
            "o_orderkey",
            F.struct(
                F.col("o_custkey").alias("custkey"),
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            ).alias("meta"),
            # sequence(1, 0) DESCENDS in Spark (same pitfall chunk_by_tokens
            # guards) — empty tag lists need an explicit empty array
            F.when(
                F.col("o_orderkey") % 5 >= 1,
                F.expr("sequence(1, CAST(o_orderkey % 5 AS INT))"),
            )
            .otherwise(F.array().cast("array<int>"))
            .alias("tags"),
        )
    )
    d = _mkdtemp("json_src_")
    path = os.path.join(d, "orders_json")
    sub.write.json(path)
    back = read_json(
        spark,
        path,
        schema=(
            "o_orderkey bigint, "
            "meta struct<custkey: bigint, orderdate: string>, "
            "tags array<int>"
        ),
    )
    return back.select(
        "o_orderkey",
        F.col("meta.custkey").alias("o_custkey"),
        F.col("meta.orderdate").alias("orderdate"),
        F.coalesce(F.size("tags"), F.lit(0)).cast("bigint").alias("tag_count"),
    )


@register(
    "source_orc_roundtrip",
    """
SELECT l_returnflag,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem WHERE l_orderkey % 16 = 0 AND l_linenumber = 1
GROUP BY l_returnflag, strftime(l_shipdate, '%Y-%m-%d')
""",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source surface (Spark-native columnar alternative to parquet —
    the other file format an extract-based deployment of the reference
    encounters): a deterministic lineitem subset is exported to ORC
    in-query and read back, then aggregated. The temporal column travels
    as ORC DATE (timezone-free by construction — ORC TIMESTAMP is
    local-time-zone-sensitive and would shift under the driver's plain
    session, exactly the class of drift the gate exists to catch); money
    travels as DECIMAL. The oracle computes the same aggregate straight
    from the parquet fixture, so parity proves the ORC round trip is
    value-exact. Predicate pushdown and column pruning apply to ORC scans
    like parquet (same DataSource V2 path)."""
    sub = (
        t(spark, sf_dir, "lineitem")
        .filter((F.col("l_orderkey") % 16 == 0) & (F.col("l_linenumber") == 1))
        .select(
            "l_returnflag",
            F.col("l_shipdate").cast("date").alias("ship_date"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        )
    )
    d = _mkdtemp("orc_src_")
    path = os.path.join(d, "lineitem_orc")
    sub.write.orc(path)
    back = spark.read.orc(path)
    return back.groupBy(
        "l_returnflag", F.date_format("ship_date", "yyyy-MM-dd").alias("ship_day")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("price").cast("double").alias("revenue"),
    )


@register(
    "source_binaryfile_ingest",
    """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id % 37 = 0
""",
)
def source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binaryFile source — the ingestion front door of the multimodal
    surface (E22): opaque files on disk become (path, length, content)
    rows. A deterministic documents subset is materialized as one UTF-8
    file per doc (named by doc_id), read back via
    ``spark.read.format("binaryFile")``, and manifested as
    (doc_id-from-filename, byte length, md5 of the raw bytes). The oracle
    computes octet_length/md5 over the SAME text straight from the parquet
    fixture — byte-level parity proves the filesystem round trip loses
    nothing (multi-byte UTF-8 included: octet_length, never char length).
    Fixture setup collects the subset driver-side — bounded by the %37
    filter, and file creation is setup, not the measured operator; at
    corpus scale the files already exist (that is the point of the
    source)."""
    sub = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 37 == 0)
        .select("doc_id", "text")
    )
    d = _mkdtemp("binsrc_")
    for r in sub.collect():
        with open(os.path.join(d, f"{r['doc_id']}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    # glob expanded here, as in _stream_polls: a glob path makes the reader
    # log a FileNotFoundException stack trace looking for a metadata dir
    back = spark.read.format("binaryFile").load(
        sorted(_glob.glob(os.path.join(d, "*.bin")))
    )
    return back.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@register(
    "cdc_forget_cascade",
    """
WITH forget AS (
    SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
),
o_del AS (
    SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM forget)
),
l_del AS (
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM o_del)
)
SELECT 'customer' AS table_name, CAST(c_custkey AS VARCHAR) AS pk1,
       CAST(NULL AS VARCHAR) AS pk2, 'D' AS change_type
FROM forget
UNION ALL
SELECT 'orders', CAST(o_orderkey AS VARCHAR), CAST(NULL AS VARCHAR), 'D' FROM o_del
UNION ALL
SELECT 'lineitem', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR), 'D'
FROM l_del
""",
)
def cdc_forget_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E112: right-to-be-forgotten cascade — a seed set of entities to erase
    is expanded along the FK topology (customer -> orders -> lineitem) and
    emitted as PKLOG-shaped DELETE capture rows (stringified PK1/PK2 exactly
    as the reference's trigger log stores them, S4HanaTableMapping.java
    PK1..PK6), ready for ``apply_changes``/retention downstream.

    Scale shape: the forget set is delta-sized, so every expansion is a
    BROADCAST semi-join against the big table — customer, orders and
    lineitem are each scanned once, never shuffled; output size is the
    cascade itself."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 97 == 0)
    keys = cust.select("c_custkey")
    orders = t(spark, sf_dir, "orders")
    o_del = orders.join(
        F.broadcast(keys), orders.o_custkey == keys.c_custkey, "leftsemi"
    ).select("o_orderkey")
    li = t(spark, sf_dir, "lineitem")
    l_del = li.join(
        F.broadcast(o_del), li.l_orderkey == o_del.o_orderkey, "leftsemi"
    ).select("l_orderkey", "l_linenumber")
    nul = F.lit(None).cast("string")
    return (
        keys.select(
            F.lit("customer").alias("table_name"),
            F.col("c_custkey").cast("string").alias("pk1"),
            nul.alias("pk2"),
            F.lit("D").alias("change_type"),
        )
        .unionAll(
            o_del.select(
                F.lit("orders"),
                F.col("o_orderkey").cast("string"),
                nul,
                F.lit("D"),
            )
        )
        .unionAll(
            l_del.select(
                F.lit("lineitem"),
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.lit("D"),
            )
        )
    )


CUSTOMER_IDENTITY = TableMapping(
    name="customer_id",
    mastertable="customer",
    columnmappings=[
        ColumnMapping(c, f'"L1"."{c}"')
        for c in ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    ],
    pkcolumns=["c_custkey"],
)


@register(
    "streaming_multi_table_merge",
    f"""
WITH {PKLOG_ORACLE_CTE.strip().rstrip()},
{{CUST_CTE}}
base_o AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
base_c AS (SELECT * FROM customer WHERE c_custkey % 4 <> 0),
l_o AS (
    SELECT max(transactionid) AS _tx, CAST(pk1 AS BIGINT) AS o_orderkey
    FROM pklog WHERE table_name = 'orders'
      AND transactionid > {LO} AND transactionid <= {HI}
    GROUP BY pk1
),
delta_o AS (
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'D' ELSE 'A' END AS ct,
           l_o.o_orderkey AS k, o.*
    FROM l_o LEFT OUTER JOIN orders o ON l_o.o_orderkey = o.o_orderkey
),
merged_o AS (
    SELECT b.* FROM base_o b
    WHERE NOT EXISTS (SELECT 1 FROM delta_o d WHERE d.k = b.o_orderkey)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM delta_o WHERE ct <> 'D'
),
l_c AS (
    SELECT max(transactionid) AS _tx, CAST(pk1 AS BIGINT) AS c_custkey
    FROM pklog_c WHERE transactionid > {LO} AND transactionid <= {HI}
    GROUP BY pk1
),
delta_c AS (
    SELECT CASE WHEN c.c_custkey IS NULL THEN 'D' ELSE 'A' END AS ct,
           l_c.c_custkey AS k, c.*
    FROM l_c LEFT OUTER JOIN customer c ON l_c.c_custkey = c.c_custkey
),
merged_c AS (
    SELECT b.* FROM base_c b
    WHERE NOT EXISTS (SELECT 1 FROM delta_c d WHERE d.k = b.c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM delta_c WHERE ct <> 'D'
)
SELECT 'orders' AS table_name, count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS measure_sum
FROM merged_o
UNION ALL
SELECT 'customer', count(*), CAST(sum(c_custkey) AS BIGINT),
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
FROM merged_c
""".replace("{CUST_CTE}", CUSTOMER_PKLOG_ORACLE_CTE.strip() + ","),
)
def streaming_multi_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E115: the reference's MULTI-TABLE poll through the streaming engine —
    one PKLOG stream carries changes for BOTH orders and customer
    (S4HanaProducer.java:400-420 walks every impacted table inside a single
    poll), and each micro-batch runs batch ``poll()``: the impacted-table
    fan-out gives each table's mapping its own delta and its own committed
    ranges, and each mapping resumes from its own last committed range.
    Base snapshots start with rows missing (every 3rd order / 4th customer
    absent), so the merge genuinely inserts; the final per-table row
    counts, key sums and DECIMAL measure sums must equal the one-shot
    batch merges."""
    from s4hanaconnector_spark.sources.pklog import synthetic_pklog_customer

    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    txid = F.col("transactionid")
    feed = (
        synthetic_pklog(orders)
        .unionByName(synthetic_pklog_customer(customer))
        .filter((txid > LO) & (txid <= HI))
    )
    mid = (LO + HI) // 2
    sink = _stream_polls(
        spark, "stream_multi_", [feed.filter(txid <= mid), feed.filter(txid > mid)],
        [ORDERS_IDENTITY, CUSTOMER_IDENTITY], {"orders": orders, "customer": customer},
        LO,
    )
    outs = []
    for mapping, base, keycol, measure in (
        (ORDERS_IDENTITY, orders.filter(F.col("o_orderkey") % 3 != 0),
         "o_orderkey", "o_totalprice"),
        (CUSTOMER_IDENTITY, customer.filter(F.col("c_custkey") % 4 != 0),
         "c_custkey", "c_acctbal"),
    ):
        snap = materialize_snapshot(spark, sink, mapping.name, [keycol], base=base)
        outs.append(
            snap.agg(
                F.lit(mapping.mastertable).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(keycol).cast("bigint").alias("key_sum"),
                F.sum(F.col(measure).cast("decimal(18,2)"))
                .cast("double")
                .alias("measure_sum"),
            )
        )
    return outs[0].unionByName(outs[1])


@register(
    "cdc_poll_stats",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
{CUSTOMER_PKLOG_ORACLE_CTE.strip()},
log AS (
    SELECT table_name, change_type, pk1, transactionid FROM pklog
    UNION ALL
    SELECT table_name, change_type, pk1, transactionid FROM pklog_c
)
SELECT table_name, change_type,
       count(*) AS n_rows,
       count(DISTINCT pk1) AS n_keys,
       count(DISTINCT transactionid) AS n_txns,
       min(transactionid) AS txid_lo,
       max(transactionid) AS txid_hi
FROM log
WHERE transactionid > {LO} AND transactionid <= {HI}
GROUP BY table_name, change_type
""",
)
def cdc_poll_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poll observability — the reference's per-poll operation-log lines
    ("n rows produced for table X", S4HanaProducer.java:443-447 logs row
    counts per delta; the monitoring servlets surface them) as a declared
    query: per (table, change type) row/key/transaction counts and the
    txid span inside the poll range, across BOTH tables of the multi-table
    feed. One shuffle on the tiny (table, type) key space; map-side
    partial aggregation does the heavy counting next to the scan."""
    from s4hanaconnector_spark.sources.pklog import synthetic_pklog_customer

    orders_log = synthetic_pklog(t(spark, sf_dir, "orders"))
    cust_log = synthetic_pklog_customer(t(spark, sf_dir, "customer"))
    log = orders_log.unionByName(cust_log).filter(
        (F.col("transactionid") > LO) & (F.col("transactionid") <= HI)
    )
    return log.groupBy("table_name", "change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("pk1").alias("n_keys"),
        F.count_distinct("transactionid").alias("n_txns"),
        F.min("transactionid").alias("txid_lo"),
        F.max("transactionid").alias("txid_hi"),
    )


@register(
    "streaming_scd2_history",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
cv AS (
    SELECT CAST(pk1 AS BIGINT) AS o_orderkey, change_type,
           transactionid AS _transactionid
    FROM pklog WHERE table_name = 'orders' AND schema_name = 'S4'
),
v AS (
    SELECT o_orderkey, change_type, _transactionid,
           _transactionid AS valid_from,
           lead(_transactionid) OVER (PARTITION BY o_orderkey ORDER BY _transactionid, change_type) AS valid_to
    FROM cv
)
SELECT o_orderkey, change_type, _transactionid, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM v WHERE change_type <> 'D'
""",
)
def streaming_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history MAINTAINED incrementally through the real streaming
    engine: the change feed lands as two txid-ordered polls; each
    foreachBatch (1) closes the prior state's open versions of keys the
    batch touches (valid_to = the key's smallest incoming txid), (2) runs
    the one-window scd2_versions chain over the batch alone, and (3)
    unions both into the next state version. The drained history must
    hash-equal the ONE-SHOT scd2_versions over the whole feed
    (cdc_scd2_history's oracle): chains compose across batches because
    polls ascend by txid, so a key's batch-local chain starts exactly
    where its prior open version closed. Deletes terminate a version
    without opening one, across batch boundaries too (a batch whose only
    change for a key is 'D' contributes no row but closes the open one).
    State per batch is the history table itself — the consumer-side
    artifact the reference's change stream implies
    (S4HanaProducer.java:442)."""
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    d = _mkdtemp("stream_scd2_")
    feed_dir = os.path.join(d, "feed")
    state_dir = os.path.join(d, "state")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(state_dir)
    lo_t, hi_t = 1000, 1060
    mid = (lo_t + hi_t) // 2
    pklog.filter(F.col("transactionid") <= mid).coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=0")
    )
    pklog.filter(F.col("transactionid") > mid).coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=1")
    )

    out_cols = [
        "o_orderkey", "change_type", "_transactionid",
        "valid_from", "valid_to", "is_current",
    ]

    def merge_batch(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        cv = batch_df.filter(
            (F.col("table_name") == "orders") & (F.col("schema_name") == "S4")
        ).select(
            F.col("pk1").cast("bigint").alias("o_orderkey"),
            "change_type",
            F.col("transactionid").alias("_transactionid"),
        )
        chain = C.scd2_versions(cv, ["o_orderkey"]).select(
            "o_orderkey", "change_type", "_transactionid",
            F.col("__valid_from").alias("valid_from"),
            F.col("__valid_to").alias("valid_to"),
            F.col("__is_current").alias("is_current"),
        )
        versions = sorted(_glob.glob(os.path.join(state_dir, "v_0*")))
        prev = [v for v in versions if v < os.path.join(state_dir, f"v_{batch_id:06d}")]
        if prev:
            state = s.read.parquet(prev[-1])
            # close the open version of every key this batch touches at the
            # key's FIRST incoming txid — the lead() value the one-shot
            # window would have seen
            firsts = cv.groupBy("o_orderkey").agg(
                F.min("_transactionid").alias("__next_txid")
            )
            state = (
                state.join(F.broadcast(firsts), "o_orderkey", "left")
                .select(
                    "o_orderkey", "change_type", "_transactionid", "valid_from",
                    F.when(
                        F.col("is_current") & F.col("__next_txid").isNotNull(),
                        F.col("__next_txid"),
                    ).otherwise(F.col("valid_to")).alias("valid_to"),
                    (F.col("is_current") & F.col("__next_txid").isNull()).alias(
                        "is_current"
                    ),
                )
            )
            new_state = state.unionByName(chain)
        else:
            new_state = chain
        new_state.select(*out_cols).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v_{batch_id:06d}")
        )

    stream = changes_stream(
        spark, os.path.join(feed_dir, "poll=*"), max_files_per_trigger=1
    )
    drain(
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
    )
    final = sorted(_glob.glob(os.path.join(state_dir, "v_0*")))[-1]
    return spark.read.parquet(final)


@register(
    "cdc_temporal_join",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
cv AS (
    SELECT CAST(pk1 AS BIGINT) AS o_orderkey, change_type,
           transactionid AS _transactionid
    FROM pklog WHERE table_name = 'orders' AND schema_name = 'S4'
),
v AS (
    SELECT o_orderkey, change_type, _transactionid,
           _transactionid AS valid_from,
           lead(_transactionid) OVER (PARTITION BY o_orderkey ORDER BY _transactionid, change_type) AS valid_to
    FROM cv
),
hist AS (SELECT * FROM v WHERE change_type <> 'D'),
facts AS (
    SELECT l_orderkey, l_linenumber,
           CAST(1000 + (l_orderkey + l_linenumber) % 60 AS BIGINT) AS fact_txid
    FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)
)
SELECT f.l_orderkey, f.l_linenumber, f.fact_txid,
       h.valid_from, h.valid_to, h.change_type AS version_change_type
FROM facts f
JOIN hist h
  ON h.o_orderkey = f.l_orderkey
 AND h.valid_from <= f.fact_txid
 AND (h.valid_to IS NULL OR f.fact_txid < h.valid_to)
""",
)
def cdc_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bi-temporal (AS OF transaction time) dimension join — the canonical
    consumer of an SCD2 history: every fact row joins THE dimension
    version that was valid at the fact's transaction time
    (valid_from <= t < valid_to, open version catches the tail). Facts
    are lineitems stamped with a deterministic txid in the feed's range;
    the dimension is the orders SCD2 history reconstructed from the
    change feed (scd2_versions over synthetic_pklog).

    Plan shape: ONE equi-join on the dimension key followed by the
    interval filter — correct because SCD2 intervals per key are disjoint
    by construction, so at most one version survives per fact and no
    window/dedup pass is needed. At 100 TB the history table is |changes|
    rows partitioned by key; the fact side shuffles once on the same key
    (or never, if both are co-bucketed on it — operators/bucketing.py)."""
    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    cv = pklog.filter(
        (F.col("table_name") == "orders") & (F.col("schema_name") == "S4")
    ).select(
        F.col("pk1").cast("bigint").alias("o_orderkey"),
        "change_type",
        F.col("transactionid").alias("_transactionid"),
    )
    hist = C.scd2_versions(cv, ["o_orderkey"]).select(
        "o_orderkey",
        F.col("change_type").alias("version_change_type"),
        F.col("__valid_from").alias("valid_from"),
        F.col("__valid_to").alias("valid_to"),
    )
    facts = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .distinct()
        .withColumn(
            "fact_txid",
            (F.lit(1000) + (F.col("l_orderkey") + F.col("l_linenumber")) % 60)
            .cast("bigint"),
        )
    )
    return (
        facts.join(hist, facts["l_orderkey"] == hist["o_orderkey"])
        .filter(
            (F.col("valid_from") <= F.col("fact_txid"))
            & (F.col("valid_to").isNull() | (F.col("fact_txid") < F.col("valid_to")))
        )
        .select(
            "l_orderkey", "l_linenumber", "fact_txid",
            "valid_from", "valid_to", "version_change_type",
        )
    )


@register(
    "cdc_snapshot_checksum",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
cv AS (
    SELECT CAST(pk1 AS BIGINT) AS o_orderkey, change_type, transaction_seq,
           transactionid AS _transactionid
    FROM pklog WHERE table_name = 'orders' AND schema_name = 'S4'
),
latest AS (
    SELECT o_orderkey, change_type FROM (
        SELECT o_orderkey, change_type,
               row_number() OVER (
                   PARTITION BY o_orderkey
                   ORDER BY _transactionid DESC, transaction_seq DESC,
                            CASE change_type WHEN 'D' THEN 3 WHEN 'U' THEN 2 ELSE 1 END DESC
               ) AS rn
        FROM cv
    ) WHERE rn = 1
),
snap AS (
    SELECT o.o_orderkey, o.o_orderstatus, o.o_orderpriority, o.o_custkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS od
    FROM orders o LEFT JOIN latest l USING (o_orderkey)
    WHERE l.change_type IS NULL OR l.change_type <> 'D'
),
rows_h AS (
    SELECT ('0x' || substring(md5(
               CAST(o_orderkey AS VARCHAR) || chr(31) || o_orderstatus || chr(31) ||
               o_orderpriority || chr(31) || CAST(o_custkey AS VARCHAR) || chr(31) || od
           ), 1, 12))::BIGINT AS h
    FROM snap
)
SELECT count(*) AS n_rows,
       CAST(sum(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS checksum
FROM rows_h
""",
)
def cdc_snapshot_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum of the maintained snapshot — the
    end-to-end audit primitive a CDC consumer runs to prove its replica
    equals the source without moving either (the reference trusts Kafka
    transactions for this; an addition-reduced row digest verifies it
    independently). Each row hashes to a 48-bit integer (md5 over a
    field-separated canonical encoding, dates ISO-formatted so engines
    agree); the table digest is the exact DECIMAL(38) SUM — commutative,
    so partitioning/order/engine cannot change it, and any single changed
    row changes the sum with probability 1 - 2^-48.

    The snapshot here is the source with the poll's deletes applied
    (per-PK latest change, reference rank order), so the digest covers the
    whole maintain path. One scan + one 1-row aggregate; at 100 TB the
    digest pipelines into the scan with map-side partial sums."""
    from pyspark.sql import Window as W

    orders = t(spark, sf_dir, "orders")
    pklog = synthetic_pklog(orders)
    cv = pklog.filter(
        (F.col("table_name") == "orders") & (F.col("schema_name") == "S4")
    ).select(
        F.col("pk1").cast("bigint").alias("o_orderkey"),
        "change_type",
        "transaction_seq",
        F.col("transactionid").alias("_transactionid"),
    )
    rank = (
        F.when(F.col("change_type") == "D", 3)
        .when(F.col("change_type") == "U", 2)
        .otherwise(1)
    )
    w = W.partitionBy("o_orderkey").orderBy(
        F.col("_transactionid").desc(), F.col("transaction_seq").desc(), rank.desc()
    )
    latest = (
        cv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "change_type")
    )
    snap = (
        orders.join(latest, "o_orderkey", "left")
        .filter(F.col("change_type").isNull() | (F.col("change_type") != "D"))
        .select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_custkey",
            F.date_format(F.col("o_orderdate"), "yyyy-MM-dd").alias("od"),
        )
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.col("o_orderkey").cast("string"),
                    "o_orderstatus",
                    "o_orderpriority",
                    F.col("o_custkey").cast("string"),
                    "od",
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("decimal(38,0)")
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h).cast("string").alias("checksum"),
    )


@register(
    "cdc_quarantine_malformed",
    f"""
WITH {PKLOG_ORACLE_CTE.strip()},
dirty AS (
    SELECT * FROM pklog
    UNION ALL
    SELECT o_orderdate, 'S4', 'U', 'garbage-' || CAST(o_orderkey AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(1000 + o_orderkey % 50 AS BIGINT), 1, 'orders'
    FROM orders WHERE o_orderkey % 31 = 0
    UNION ALL
    SELECT o_orderdate, 'S4', 'X', CAST(o_orderkey AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(1000 + o_orderkey % 50 AS BIGINT), 1, 'orders'
    FROM orders WHERE o_orderkey % 43 = 0
    UNION ALL
    SELECT o_orderdate, 'S4', 'U', CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(1000 + o_orderkey % 50 AS BIGINT), 1, 'orders'
    FROM orders WHERE o_orderkey % 53 = 0
    UNION ALL
    SELECT o_orderdate, 'S4', CAST(NULL AS VARCHAR), CAST(o_orderkey AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(1000 + o_orderkey % 50 AS BIGINT), 1, 'orders'
    FROM orders WHERE o_orderkey % 59 = 0
)
SELECT CASE WHEN pk1 IS NULL THEN 'missing_pk'
            WHEN TRY_CAST(pk1 AS BIGINT) IS NULL THEN 'pk_uncastable'
            WHEN change_type IS NULL OR change_type NOT IN ('I','U','D','A','B') THEN 'bad_change_type'
            WHEN transactionid IS NULL THEN 'missing_txid'
       END AS _quarantine_reason,
       count(*) AS n_rows,
       count(DISTINCT pk1) AS n_keys
FROM dirty
GROUP BY 1
""",
)
def cdc_quarantine_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter accounting for a change feed that has crossed a wire:
    garbage PKs, unknown change types and NULL keys are injected into the
    synthetic log, and classify_malformed labels every row with a
    quarantine reason (NULL = valid) — without this, an uncastable PK
    becomes a NULL join key that the delta pipeline classifies as a
    phantom delete (silent corruption). Row-local try_cast projection,
    then the usual tiny-key aggregation; mirrors the CSV/JSON
    corrupt-record quarantine (E91/E92) on the CDC path."""
    orders = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = synthetic_pklog(orders)

    def leg(mod: int, ctype, pk_expr):
        null_pks = [F.lit(None).cast("string").alias(f"pk{i}") for i in range(2, 7)]
        return orders.filter(k % mod == 0).select(
            F.col("o_orderdate").alias("change_ts"),
            F.lit("S4").alias("schema_name"),
            F.lit(ctype).alias("change_type"),
            pk_expr.alias("pk1"),
            *null_pks,
            (F.lit(1000) + k % 50).cast("bigint").alias("transactionid"),
            F.lit(1).cast("int").alias("transaction_seq"),
            F.lit("orders").alias("table_name"),
        )

    dirty = (
        base.unionByName(leg(31, "U", F.concat(F.lit("garbage-"), k.cast("string"))))
        .unionByName(leg(43, "X", k.cast("string")))
        .unionByName(leg(53, "U", F.lit(None).cast("string")))
        # NULL change_type: must classify bad_change_type, not slip through
        # the isin() three-valued-logic hole
        .unionByName(leg(59, F.lit(None).cast("string"), k.cast("string")))
    )
    labeled = C.classify_malformed(dirty)
    return labeled.groupBy("_quarantine_reason").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("pk1").alias("n_keys"),
    )


@register(
    "streaming_nested_bo_maintenance",
    """
WITH li0 AS (
    SELECT l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS l_quantity
    FROM lineitem GROUP BY 1, 2
),
merged_orders AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 37 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE NOT (o_orderkey % 41 = 3 AND NOT o_orderkey % 37 = 0)
),
merged_li AS (
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_orderkey % 43 = 5 THEN l_quantity + 1
                ELSE l_quantity END AS l_quantity
    FROM li0
    WHERE NOT (l_orderkey % 47 = 7 AND l_linenumber = 1 AND NOT l_orderkey % 43 = 5)
)
SELECT o.o_orderkey, o.o_orderstatus,
       count(l.l_orderkey) AS n_items,
       CAST(coalesce(sum(CAST(l.l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS qty_sum
FROM merged_orders o LEFT JOIN merged_li l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_orderstatus
""",
)
def streaming_nested_bo_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-BO maintenance through the REAL streaming engine (the
    streaming composition of E100): ONE unified change feed delivers the
    MASTER batch in micro-batch 0 and the DETAIL batch in micro-batch 1
    (routed by table_name, like the reference's poll walking every
    impacted table); each foreachBatch merges the flat tables with
    apply_changes AND incrementally re-nests ONLY the affected documents
    over the prior nested snapshot (maintain_nested_docs). The final
    snapshot's per-doc summary must hash-equal a full re-nest of the
    merged tables — maintenance composes across micro-batches because
    each step's affected-set pruning sees the then-current merged tables
    (a master deleted in step 0 cannot be resurrected by its detail
    change in step 1: the semi-join finds no master)."""
    from s4hanaconnector_spark.operators.nesting import maintain_nested_docs, nest

    master0 = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    detail0 = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("l_quantity")
        )
    )
    k, lk = F.col("o_orderkey"), F.col("l_orderkey")
    nulls = {
        "o_orderkey": "bigint", "o_orderstatus": "string", "o_totalprice": "double",
        "l_orderkey": "bigint", "l_linenumber": "int", "l_quantity": "double",
    }

    def pad(df, table):
        cols = [F.lit(table).alias("table_name"), "_change_type", "_transactionid"]
        for c, typ in nulls.items():
            cols.append(
                (F.col(c) if c in df.columns else F.lit(None)).cast(typ).alias(c)
            )
        return df.select(*cols)

    mb_u = (
        master0.filter(k % 37 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .select(F.lit("U").alias("_change_type"), F.lit(1).alias("_transactionid"), "*")
    )
    mb_d = master0.filter((k % 41 == 3) & ~(k % 37 == 0)).select(
        F.lit("D").alias("_change_type"),
        F.lit(1).alias("_transactionid"),
        "o_orderkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    db_u = (
        detail0.filter(lk % 43 == 5)
        .withColumn("l_quantity", F.col("l_quantity") + 1)
        .select(F.lit("U").alias("_change_type"), F.lit(2).alias("_transactionid"), "*")
    )
    db_d = detail0.filter(
        (lk % 47 == 7) & (F.col("l_linenumber") == 1) & ~(lk % 43 == 5)
    ).select(
        F.lit("D").alias("_change_type"),
        F.lit(2).alias("_transactionid"),
        "l_orderkey",
        "l_linenumber",
        F.lit(None).cast("double").alias("l_quantity"),
    )

    d = _mkdtemp("stream_nest_")
    feed_dir = os.path.join(d, "feed")
    state_dir = os.path.join(d, "state")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(state_dir)
    pad(mb_u.unionByName(mb_d), "orders").coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=0")
    )
    pad(db_u.unionByName(db_d), "lineitem").coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=1")
    )

    jc = [{"left": "o_orderkey", "right": "l_orderkey"}]
    dcols = ["l_linenumber", "l_quantity"]
    nest(
        master0, detail0, joincondition=jc, schemafield="items",
        detail_cols=dcols, sort_detail_by=["l_linenumber"],
    ).write.parquet(os.path.join(state_dir, "snap_base"))
    master0.write.parquet(os.path.join(state_dir, "m_base"))
    detail0.write.parquet(os.path.join(state_dir, "d_base"))

    def merge_batch(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        prev_snap = _state_before(s, state_dir, "snap", batch_id)
        prev_m = _state_before(s, state_dir, "m", batch_id)
        prev_d = _state_before(s, state_dir, "d", batch_id)
        master_batch = batch_df.filter(F.col("table_name") == "orders").select(
            "_change_type", "_transactionid",
            "o_orderkey", "o_orderstatus", "o_totalprice",
        )
        detail_batch = batch_df.filter(F.col("table_name") == "lineitem").select(
            "_change_type", "_transactionid",
            "l_orderkey", "l_linenumber", "l_quantity",
        )
        merged_m = C.apply_changes(prev_m, master_batch, ["o_orderkey"])
        merged_d = C.apply_changes(prev_d, detail_batch, ["l_orderkey", "l_linenumber"])
        new_snap = maintain_nested_docs(
            prev_snap, merged_m, merged_d, master_batch, detail_batch,
            master_pk=["o_orderkey"], joincondition=jc, schemafield="items",
            detail_cols=dcols, sort_detail_by=["l_linenumber"],
        )
        # mode("overwrite"): replayed foreachBatch ids replace their own
        # prior uncommitted state versions (at-least-once delivery)
        new_snap.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"snap_{batch_id:06d}")
        )
        merged_m.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"m_{batch_id:06d}")
        )
        merged_d.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"d_{batch_id:06d}")
        )

    stream = (
        spark.readStream.schema(
            "table_name string, _change_type string, _transactionid bigint, "
            "o_orderkey bigint, o_orderstatus string, o_totalprice double, "
            "l_orderkey bigint, l_linenumber int, l_quantity double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed_dir, "poll=*"))
    )
    drain(
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
    )
    final = sorted(_glob.glob(os.path.join(state_dir, "snap_0*")))[-1]
    snap = spark.read.parquet(final)
    return snap.select(
        "o_orderkey",
        "o_orderstatus",
        F.size("items").cast("long").alias("n_items"),
        F.expr(
            "CAST(aggregate(items, CAST(0 AS DECIMAL(18,2)), "
            "(acc, x) -> CAST(acc + CAST(x.l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("qty_sum"),
    )


@register(
    "streaming_nested_bo_2level",
    """
WITH li0 AS (
    SELECT l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS l_quantity
    FROM lineitem GROUP BY 1, 2
),
merged_c AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 29 = 0 THEN c_name || '*' ELSE c_name END AS c_name
    FROM customer
    WHERE NOT (c_custkey % 31 = 4 AND NOT c_custkey % 29 = 0)
),
merged_o AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 53 = 9 AND NOT o_orderkey % 37 = 0
                THEN (o_custkey % 100) + 1 ELSE o_custkey END AS o_custkey,
           CASE WHEN o_orderkey % 37 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE NOT (o_orderkey % 41 = 3 AND NOT o_orderkey % 37 = 0
               AND NOT o_orderkey % 53 = 9)
),
merged_l AS (
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_orderkey % 43 = 5 THEN l_quantity + 1
                ELSE l_quantity END AS l_quantity
    FROM li0
    WHERE NOT (l_orderkey % 47 = 7 AND l_linenumber = 1 AND NOT l_orderkey % 43 = 5)
)
SELECT c.c_custkey, c.c_name,
       count(DISTINCT o.o_orderkey) AS n_orders,
       count(l.l_orderkey) AS n_items,
       CAST(coalesce(sum(CAST(l.l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS qty_sum,
       CAST(coalesce(max(o.o_totalprice), 0) AS DOUBLE) AS max_order_price
FROM merged_c c
LEFT JOIN merged_o o ON c.c_custkey = o.o_custkey
LEFT JOIN merged_l l ON o.o_orderkey = l.l_orderkey
GROUP BY c.c_custkey, c.c_name
""",
)
def streaming_nested_bo_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL nested-document maintenance through the real streaming
    engine: the customer -> orders[] -> items[] document of
    ``nest_customer_orders_items``, maintained incrementally under THREE
    micro-batches (customer changes, then order changes — including
    CUSTOMER-REASSIGNMENT updates — then item changes). Each foreachBatch
    merges the flat tables, maintains the inner orders+items snapshot, then
    DERIVES the outer level's detail batch itself: every affected order
    contributes both its OLD and its NEW o_custkey (old from the pre-merge
    orders table, new from the merged one), so a reassigned order re-nests
    BOTH customer documents — the exact stale-doc hazard a naive single-key
    batch would miss. Deleted customers in batch 0 stay deleted when their
    orders change in batch 1 (affected-set semi-join finds no master). The
    final snapshot's per-customer rollup must equal the oracle's flat
    3-table recompute over the merged tables."""
    from s4hanaconnector_spark.operators.nesting import maintain_nested_docs, nest

    cust0 = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders0 = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    items0 = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("l_quantity")
        )
    )
    ck, ok, lk = F.col("c_custkey"), F.col("o_orderkey"), F.col("l_orderkey")
    nulls = {
        "c_custkey": "bigint", "c_name": "string",
        "o_orderkey": "bigint", "o_custkey": "bigint", "o_totalprice": "double",
        "l_orderkey": "bigint", "l_linenumber": "int", "l_quantity": "double",
    }

    def pad(df, table):
        cols = [F.lit(table).alias("table_name"), "_change_type", "_transactionid"]
        for c, typ in nulls.items():
            cols.append(
                (F.col(c) if c in df.columns else F.lit(None)).cast(typ).alias(c)
            )
        return df.select(*cols)

    def leg(df, ct, txid):
        return df.select(
            F.lit(ct).alias("_change_type"), F.lit(txid).alias("_transactionid"), "*"
        )

    cb_u = leg(
        cust0.filter(ck % 29 == 0).withColumn("c_name", F.concat(F.col("c_name"), F.lit("*"))),
        "U", 1,
    )
    cb_d = leg(
        cust0.filter((ck % 31 == 4) & ~(ck % 29 == 0)).select(
            "c_custkey", F.lit(None).cast("string").alias("c_name")
        ),
        "D", 1,
    )
    ob_u = leg(
        orders0.filter(ok % 37 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        "U", 2,
    )
    ob_move = leg(
        orders0.filter((ok % 53 == 9) & ~(ok % 37 == 0)).withColumn(
            "o_custkey", (F.col("o_custkey") % 100) + 1
        ),
        "U", 2,
    )
    ob_d = leg(
        orders0.filter((ok % 41 == 3) & ~(ok % 37 == 0) & ~(ok % 53 == 9)).select(
            "o_orderkey",
            F.lit(None).cast("bigint").alias("o_custkey"),
            F.lit(None).cast("double").alias("o_totalprice"),
        ),
        "D", 2,
    )
    ib_u = leg(
        items0.filter(lk % 43 == 5).withColumn("l_quantity", F.col("l_quantity") + 1),
        "U", 3,
    )
    ib_d = leg(
        items0.filter(
            (lk % 47 == 7) & (F.col("l_linenumber") == 1) & ~(lk % 43 == 5)
        ).select(
            "l_orderkey", "l_linenumber", F.lit(None).cast("double").alias("l_quantity")
        ),
        "D", 3,
    )

    d = _mkdtemp("stream_nest2_")
    feed_dir = os.path.join(d, "feed")
    state_dir = os.path.join(d, "state")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(state_dir)
    pad(cb_u.unionByName(cb_d), "customer").coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=0")
    )
    pad(ob_u.unionByName(ob_move).unionByName(ob_d), "orders").coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=1")
    )
    pad(ib_u.unionByName(ib_d), "lineitem").coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=2")
    )

    jc1 = [{"left": "o_orderkey", "right": "l_orderkey"}]
    d1cols = ["l_linenumber", "l_quantity"]
    jc2 = [{"left": "c_custkey", "right": "o_custkey"}]
    d2cols = ["o_orderkey", "o_totalprice", "items"]

    def nest1(m, dd):
        return nest(m, dd, joincondition=jc1, schemafield="items",
                    detail_cols=d1cols, sort_detail_by=["l_linenumber"])

    def nest2(c, s1):
        return nest(c, s1, joincondition=jc2, schemafield="orders",
                    detail_cols=d2cols, sort_detail_by=["o_orderkey"])

    s1_base = nest1(orders0, items0)
    cust0.write.parquet(os.path.join(state_dir, "c_base"))
    orders0.write.parquet(os.path.join(state_dir, "m_base"))
    items0.write.parquet(os.path.join(state_dir, "d_base"))
    s1_base.write.parquet(os.path.join(state_dir, "s1_base"))
    nest2(cust0, s1_base).write.parquet(os.path.join(state_dir, "s2_base"))

    def write_state(df, prefix, batch_id):
        # mode("overwrite"): replayed foreachBatch ids replace their own
        # prior uncommitted versions (at-least-once delivery); writing then
        # reading back cuts lineage so multi-consumer stages don't re-run
        # the whole merge subtree
        p = os.path.join(state_dir, f"{prefix}_{batch_id:06d}")
        df.write.mode("overwrite").parquet(p)
        return df.sparkSession.read.parquet(p)

    def merge_batch(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        prev_c = _state_before(s, state_dir, "c", batch_id)
        prev_m = _state_before(s, state_dir, "m", batch_id)
        prev_d = _state_before(s, state_dir, "d", batch_id)
        prev_s1 = _state_before(s, state_dir, "s1", batch_id)
        prev_s2 = _state_before(s, state_dir, "s2", batch_id)
        cb = batch_df.filter(F.col("table_name") == "customer").select(
            "_change_type", "_transactionid", "c_custkey", "c_name"
        )
        ob = batch_df.filter(F.col("table_name") == "orders").select(
            "_change_type", "_transactionid",
            "o_orderkey", "o_custkey", "o_totalprice",
        )
        ib = batch_df.filter(F.col("table_name") == "lineitem").select(
            "_change_type", "_transactionid",
            "l_orderkey", "l_linenumber", "l_quantity",
        )
        merged_c = write_state(C.apply_changes(prev_c, cb, ["c_custkey"]), "c", batch_id)
        merged_o = write_state(
            C.apply_changes(prev_m, ob, ["o_orderkey"]), "m", batch_id
        )
        merged_l = write_state(
            C.apply_changes(prev_d, ib, ["l_orderkey", "l_linenumber"]), "d", batch_id
        )
        snap1 = write_state(
            maintain_nested_docs(
                prev_s1, merged_o, merged_l, ob, ib,
                master_pk=["o_orderkey"], joincondition=jc1, schemafield="items",
                detail_cols=d1cols, sort_detail_by=["l_linenumber"],
            ),
            "s1", batch_id,
        )
        # Outer-level detail batch: every order the inner level touched,
        # fanned out to BOTH its pre-merge and post-merge o_custkey, so a
        # customer-reassignment re-nests the old AND new parent documents.
        # All rows are 'U' (keys-only probes); deleted orders contribute
        # their old custkey via prev_m, which is exactly the join key the
        # raw cdc_delta delete leg would have nulled out.
        aff = (
            ob.select("o_orderkey")
            .unionByName(ib.select(F.col("l_orderkey").alias("o_orderkey")))
            .distinct()
        )
        l2b = (
            prev_m.join(F.broadcast(aff), "o_orderkey", "left_semi")
            .select("o_custkey", "o_orderkey")
            .unionByName(
                merged_o.join(F.broadcast(aff), "o_orderkey", "left_semi").select(
                    "o_custkey", "o_orderkey"
                )
            )
            .distinct()
            .select(
                F.lit("U").alias("_change_type"),
                F.lit(None).cast("bigint").alias("_transactionid"),
                "o_custkey", "o_orderkey",
            )
        )
        write_state(
            maintain_nested_docs(
                prev_s2, merged_c, snap1, cb, l2b,
                master_pk=["c_custkey"], joincondition=jc2, schemafield="orders",
                detail_cols=d2cols, sort_detail_by=["o_orderkey"],
            ),
            "s2", batch_id,
        )

    stream = (
        spark.readStream.schema(
            "table_name string, _change_type string, _transactionid bigint, "
            "c_custkey bigint, c_name string, "
            "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
            "l_orderkey bigint, l_linenumber int, l_quantity double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed_dir, "poll=*"))
    )
    drain(
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt),
        600,
    )
    final = sorted(_glob.glob(os.path.join(state_dir, "s2_0*")))[-1]
    snap = spark.read.parquet(final)
    dec = "CAST(0 AS DECIMAL(18,2))"
    return snap.select(
        "c_custkey",
        "c_name",
        F.size("orders").cast("long").alias("n_orders"),
        F.expr(
            "CAST(aggregate(orders, 0, (acc, o) -> acc + size(o.items)) AS BIGINT)"
        ).alias("n_items"),
        F.expr(
            f"CAST(aggregate(orders, {dec}, (acc, o) -> CAST(acc + "
            f"aggregate(o.items, {dec}, (a2, x) -> CAST(a2 + "
            f"CAST(x.l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,2)))"
            " AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("qty_sum"),
        F.expr(
            "CAST(coalesce(array_max(transform(orders, o -> "
            "CAST(o.o_totalprice AS DOUBLE))), 0.0) AS DOUBLE)"
        ).alias("max_order_price"),
    )


@register(
    "streaming_forget_cascade",
    """
SELECT 'customer' AS table_name, count(*) AS n_rows
FROM customer WHERE NOT (c_custkey % 97 = 0)
UNION ALL
SELECT 'orders', count(*)
FROM orders
WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0)
""",
)
def streaming_forget_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten THROUGH the streaming engine (streaming
    composition of E112): erasure requests arrive as two polls of seed
    customer keys; each foreachBatch expands the cascade along the FK
    topology against the THEN-CURRENT maintained state (broadcast semi
    join — the forget set is delta-sized, the tables never shuffle),
    builds PKLOG-shaped DELETE batches and applies them with the same
    apply_changes MERGE every other consumer path uses. The final
    per-table row counts must hash-equal the one-shot erasure of the full
    seed set — deletion composes across micro-batches because erasure is
    idempotent and monotone."""
    cust0 = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    ord0 = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    seeds = cust0.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")

    d = _mkdtemp("stream_forget_")
    feed_dir = os.path.join(d, "feed")
    state_dir = os.path.join(d, "state")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(state_dir)
    seeds.filter(F.col("c_custkey") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=0")
    )
    seeds.filter(F.col("c_custkey") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=1")
    )
    cust0.write.parquet(os.path.join(state_dir, "c_base"))
    ord0.write.parquet(os.path.join(state_dir, "o_base"))

    def merge_batch(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        cust = _state_before(s, state_dir, "c", batch_id)
        orders = _state_before(s, state_dir, "o", batch_id)
        keys = batch_df.select("c_custkey")
        o_del = orders.join(
            F.broadcast(keys), orders.o_custkey == keys.c_custkey, "leftsemi"
        ).select("o_orderkey")
        c_batch = keys.select(
            F.lit("D").alias("_change_type"),
            F.lit(1).cast("bigint").alias("_transactionid"),
            "c_custkey",
            F.lit(None).cast("string").alias("c_name"),
            F.lit(None).cast("bigint").alias("c_nationkey"),
        )
        o_batch = o_del.select(
            F.lit("D").alias("_change_type"),
            F.lit(1).cast("bigint").alias("_transactionid"),
            "o_orderkey",
            F.lit(None).cast("bigint").alias("o_custkey"),
            F.lit(None).cast("string").alias("o_orderstatus"),
        )
        # mode("overwrite"): replay-idempotent per-batch state versions
        C.apply_changes(cust, c_batch, ["c_custkey"]).write.mode(
            "overwrite"
        ).parquet(os.path.join(state_dir, f"c_{batch_id:06d}"))
        C.apply_changes(orders, o_batch, ["o_orderkey"]).write.mode(
            "overwrite"
        ).parquet(os.path.join(state_dir, f"o_{batch_id:06d}"))

    stream = (
        spark.readStream.schema("c_custkey bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed_dir, "poll=*"))
    )
    drain(
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
    )
    fc = sorted(_glob.glob(os.path.join(state_dir, "c_0*")))[-1]
    fo = sorted(_glob.glob(os.path.join(state_dir, "o_0*")))[-1]
    c_n = spark.read.parquet(fc).agg(F.count(F.lit(1)).alias("n_rows"))
    o_n = spark.read.parquet(fo).agg(F.count(F.lit(1)).alias("n_rows"))
    return c_n.select(F.lit("customer").alias("table_name"), "n_rows").unionByName(
        o_n.select(F.lit("orders").alias("table_name"), "n_rows")
    )
