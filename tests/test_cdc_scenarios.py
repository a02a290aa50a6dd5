"""Golden CDC scenario tests (SURVEY §5.2) — replicate the reference's
PerformanceIT shape without HANA: hand-built change sequences
(insert/update/delete/PK-update) asserted against the exact reference
semantics (S4HanaTableMapping.java:444-471, S4HanaProducer.java:317-368)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from s4hanaconnector_spark.mapping import ColumnMapping, TableMapping
from s4hanaconnector_spark.operators import cdc as C

TS = datetime.datetime(2026, 1, 1, 12, 0, 0)

MAPPING = TableMapping(
    name="t",
    mastertable="t",
    columnmappings=[
        ColumnMapping("id", '"L1"."id"'),
        ColumnMapping("val", '"L1"."val"'),
    ],
    pkcolumns=["id"],
)


def _pklog(spark, rows):
    """rows: (change_type, pk1, txid, seq)"""
    data = [
        Row(
            change_ts=TS,
            schema_name="S4",
            change_type=ct,
            pk1=str(pk),
            pk2=None, pk3=None, pk4=None, pk5=None, pk6=None,
            transactionid=txid,
            transaction_seq=seq,
            table_name="t",
        )
        for ct, pk, txid, seq in rows
    ]
    return spark.createDataFrame(
        data,
        schema="change_ts timestamp, schema_name string, change_type string, "
        "pk1 string, pk2 string, pk3 string, pk4 string, pk5 string, pk6 string, "
        "transactionid bigint, transaction_seq int, table_name string",
    )


def _source(spark, rows):
    return spark.createDataFrame([Row(id=i, val=v) for i, v in rows], "id bigint, val string")


@pytest.mark.parametrize("strategy", ["outer", "broadcast"])
def test_delta_latest_only_per_pk(spark, strategy):
    """N changes of one PK collapse to ONE output row carrying max txid (O11)."""
    log = _pklog(spark, [("I", 1, 10, 1), ("U", 1, 11, 1), ("U", 1, 12, 1)])
    src = _source(spark, [(1, "current")])
    out = C.cdc_delta(src, log, MAPPING, 0, 100, strategy=strategy).collect()
    assert len(out) == 1
    assert out[0]["_change_type"] == "A"
    assert out[0]["_transactionid"] == 12
    assert out[0]["val"] == "current"


@pytest.mark.parametrize("strategy", ["outer", "broadcast"])
def test_delta_delete_carries_pk_from_log(spark, strategy):
    """A PK that vanished from the source classifies 'D' and STILL carries
    its PK (taken from the log side — the driver-side PK coalesce, O14)."""
    log = _pklog(spark, [("D", 7, 20, 1)])
    src = _source(spark, [(1, "alive")])
    out = C.cdc_delta(src, log, MAPPING, 0, 100, strategy=strategy).collect()
    assert len(out) == 1
    r = out[0]
    assert r["_change_type"] == "D"
    assert r["id"] == 7  # PK populated on delete
    assert r["val"] is None  # non-PK columns NULL (source row gone)


def test_delta_range_is_half_open(spark):
    """(lo, hi]: txid == lo excluded, txid == hi included
    (S4HanaTableMapping.java:458)."""
    log = _pklog(spark, [("U", 1, 10, 1), ("U", 2, 11, 1), ("U", 3, 12, 1)])
    src = _source(spark, [(1, "a"), (2, "b"), (3, "c")])
    out = C.cdc_delta(src, log, MAPPING, 10, 12).select("id").collect()
    assert sorted(r["id"] for r in out) == [2, 3]


def test_pk_update_two_rows_then_reconcile(spark):
    """PK update emits upsert(new)+tombstone-candidate(old) (O7); running the
    delta afterwards classifies old->D (gone) and new->A (present)."""
    changes = spark.createDataFrame(
        [Row(transactionid=30, new_id=100, old_id=1)],
        "transactionid bigint, new_id bigint, old_id bigint",
    )
    expanded = C.pk_change_expand(changes, ["id"])
    rows = {(r["pk_side"], r["id"]) for r in expanded.collect()}
    assert rows == {("new", 100), ("old", 1)}

    # non-PK update emits only the new row
    changes2 = spark.createDataFrame(
        [Row(transactionid=31, new_id=5, old_id=5)],
        "transactionid bigint, new_id bigint, old_id bigint",
    )
    assert C.pk_change_expand(changes2, ["id"]).count() == 1

    # reconcile through the delta: source now has 100, not 1
    log = _pklog(spark, [("U", 100, 30, 1), ("U", 1, 30, 2)])
    src = _source(spark, [(100, "moved")])
    out = {r["id"]: r["_change_type"] for r in C.cdc_delta(src, log, MAPPING, 0, 100).collect()}
    assert out == {100: "A", 1: "D"}


def test_watermark_excludes_inflight_and_sentinel_collapse(spark):
    """O20: watermark = min(in-flight txid) - 1 when a writer is open; with
    empty log AND no in-flight txns the MAX_LONG sentinel collapses to
    min_transactionid (S4HanaProducer.java:336-338)."""
    log = _pklog(spark, [("U", 1, 50, 1), ("U", 2, 60, 1)])
    txns = spark.createDataFrame(
        [Row(update_transaction_id=55, start_time=TS)],
        "update_transaction_id bigint, start_time timestamp",
    )
    wm = C.watermark(log, txns, TS + datetime.timedelta(seconds=10)).collect()[0]
    assert wm["maxtxid"] == 54  # oldest in-flight - 1, despite log max 60

    # stale in-flight txn (older than window) is ignored
    old_txns = spark.createDataFrame(
        [Row(update_transaction_id=55, start_time=TS - datetime.timedelta(hours=3))],
        "update_transaction_id bigint, start_time timestamp",
    )
    wm2 = C.watermark(log, old_txns, TS).collect()[0]
    assert wm2["maxtxid"] == 60  # falls back to log max

    # empty everything -> sentinel collapse to min_transactionid
    empty_log = _pklog(spark, [])
    empty_txns = spark.createDataFrame([], "update_transaction_id bigint, start_time timestamp")
    wm3 = C.watermark(empty_log, empty_txns, TS, min_transactionid=42).collect()[0]
    assert wm3["maxtxid"] == 42


def test_current_watermark_clamps_to_inflight(spark):
    """O21 restart point (S4HanaProducer.java:371-389): clamped below the
    oldest in-flight writer — NO staleness window, unlike O20 — so a
    restart can never skip changes that commit later. Empty inputs
    collapse to 0."""
    log = _pklog(spark, [("U", 1, 50, 1), ("U", 2, 60, 1)])
    txns = spark.createDataFrame(
        # ancient start_time: O20 would ignore it, O21 must NOT
        [Row(update_transaction_id=55, start_time=TS - datetime.timedelta(days=30))],
        "update_transaction_id bigint, start_time timestamp",
    )
    assert C.current_watermark(log, txns).collect()[0]["maxtxid"] == 54

    empty_txns = spark.createDataFrame([], "update_transaction_id bigint, start_time timestamp")
    assert C.current_watermark(log, empty_txns).collect()[0]["maxtxid"] == 60
    assert C.current_watermark(_pklog(spark, []), empty_txns).collect()[0]["maxtxid"] == 0


def test_apply_changes_roundtrip(spark):
    """E13: applying a delta batch onto a snapshot yields the new snapshot:
    upserts replace, deletes remove, untouched rows survive."""
    snap = _source(spark, [(1, "a"), (2, "b"), (3, "c")])
    batch = spark.createDataFrame(
        [
            Row(_change_type="A", _transactionid=10, id=2, val="b2"),
            Row(_change_type="D", _transactionid=11, id=3, val=None),
            Row(_change_type="A", _transactionid=12, id=4, val="d"),
        ],
        "_change_type string, _transactionid bigint, id bigint, val string",
    )
    out = {r["id"]: r["val"] for r in C.apply_changes(snap, batch, ["id"]).collect()}
    assert out == {1: "a", 2: "b2", 4: "d"}


def test_apply_changes_same_txid_tie_keeps_one_row(spark):
    """One PK, two rows at the SAME txid (insert + update in one
    transaction, distinct transaction_seq): exactly one upsert must
    survive — the higher seq — never a duplicated row."""
    snap = _source(spark, [(1, "a")])
    batch = spark.createDataFrame(
        [
            Row(_change_type="I", _transactionid=10, transaction_seq=1, id=2, val="first"),
            Row(_change_type="U", _transactionid=10, transaction_seq=2, id=2, val="second"),
        ],
        "_change_type string, _transactionid bigint, transaction_seq int, id bigint, val string",
    )
    rows = C.apply_changes(snap, batch, ["id"]).collect()
    assert len(rows) == 2  # no duplicate for id=2
    out = {r["id"]: r["val"] for r in rows}
    assert out == {1: "a", 2: "second"}


def test_apply_changes_delete_wins_tie_at_same_txid(spark):
    """Update then delete at one txid: the later seq (the delete) wins and
    the row is gone."""
    snap = _source(spark, [(1, "a"), (2, "b")])
    batch = spark.createDataFrame(
        [
            Row(_change_type="U", _transactionid=10, transaction_seq=1, id=2, val="b2"),
            Row(_change_type="D", _transactionid=10, transaction_seq=2, id=2, val=None),
        ],
        "_change_type string, _transactionid bigint, transaction_seq int, id bigint, val string",
    )
    out = {r["id"]: r["val"] for r in C.apply_changes(snap, batch, ["id"]).collect()}
    assert out == {1: "a"}


def test_apply_changes_seqless_tie_is_delete_wins(spark):
    """Same txid, NO transaction_seq: the survivor comes from the explicit
    change-type rank (D > U > I > A), not lexicographic order — so a
    delete beats an update AND an upsert consistently."""
    schema = "_change_type string, _transactionid bigint, id bigint, val string"
    snap = _source(spark, [(1, "a"), (2, "b")])
    # U vs D at txid 10 on id=1; A vs D at txid 10 on id=2
    batch = spark.createDataFrame(
        [
            Row(_change_type="U", _transactionid=10, id=1, val="u1"),
            Row(_change_type="D", _transactionid=10, id=1, val=None),
            Row(_change_type="D", _transactionid=10, id=2, val=None),
            Row(_change_type="A", _transactionid=10, id=2, val="a2"),
        ],
        schema,
    )
    assert C.apply_changes(snap, batch, ["id"]).count() == 0  # both deleted


def test_retention_keeps_recent_only(spark):
    log = _pklog(spark, [("U", 1, 10, 1)])
    kept = C.retention_filter(log, TS + datetime.timedelta(days=6), days=7)
    assert kept.count() == 1
    dropped = C.retention_filter(log, TS + datetime.timedelta(days=8), days=7)
    assert dropped.count() == 0


COMPOSITE_MAPPING = TableMapping(
    name="tc",
    mastertable="tc",
    columnmappings=[
        ColumnMapping("k1", '"L1"."k1"'),
        ColumnMapping("k2", '"L1"."k2"'),
        ColumnMapping("val", '"L1"."val"'),
    ],
    pkcolumns=["k1", "k2"],
)


def _pklog2(spark, rows):
    """rows: (change_type, pk1, pk2, txid) — composite key in pk1+pk2."""
    data = [
        Row(
            change_ts=TS, schema_name="S4", change_type=ct,
            pk1=str(a), pk2=str(b), pk3=None, pk4=None, pk5=None, pk6=None,
            transactionid=txid, transaction_seq=1, table_name="tc",
        )
        for ct, a, b, txid in rows
    ]
    return spark.createDataFrame(
        data,
        schema="change_ts timestamp, schema_name string, change_type string, "
        "pk1 string, pk2 string, pk3 string, pk4 string, pk5 string, pk6 string, "
        "transactionid bigint, transaction_seq int, table_name string",
    )


@pytest.mark.parametrize("strategy", ["outer", "broadcast"])
def test_delta_composite_pk(spark, strategy):
    """Composite (2-col) PK: the change view casts BOTH stringified log PKs
    back to source types and the delta joins conjunctively on both — rows
    differing in only one key component are distinct (O12's multi-key
    equi-join; up to 6 keys per S4HanaTableMapping.java:137)."""
    log = _pklog2(
        spark,
        [
            ("U", 1, 10, 40),  # (1,10) updated -> A
            ("U", 1, 10, 41),  # same key again: collapses (O11)
            ("U", 1, 20, 42),  # same k1, different k2: separate row -> A
            ("D", 2, 10, 43),  # vanished -> D with both PKs populated
        ],
    )
    src = spark.createDataFrame(
        [Row(k1=1, k2=10, val="a"), Row(k1=1, k2=20, val="b")],
        "k1 bigint, k2 int, val string",
    )
    out = {
        (r["k1"], r["k2"]): r
        for r in C.cdc_delta(src, log, COMPOSITE_MAPPING, 0, 100, strategy=strategy).collect()
    }
    assert len(out) == 3
    assert out[(1, 10)]["_change_type"] == "A"
    assert out[(1, 10)]["_transactionid"] == 41
    assert out[(1, 10)]["val"] == "a"
    assert out[(1, 20)]["_change_type"] == "A"
    assert out[(2, 10)]["_change_type"] == "D"
    assert out[(2, 10)]["val"] is None
    # PK typing survives the string round-trip (bigint + int)
    assert isinstance(out[(2, 10)]["k1"], int)


def test_mapping_rejects_more_than_six_pks():
    """Reference guard: >6 PK columns is an error
    (S4HanaTableMapping.java:137-139)."""
    with pytest.raises(ValueError, match="6"):
        TableMapping(
            name="x",
            mastertable="x",
            columnmappings=[ColumnMapping(f"c{i}", f'"L1"."c{i}"') for i in range(7)],
            pkcolumns=[f"c{i}" for i in range(7)],
        )


@pytest.mark.parametrize("strategy", ["outer", "broadcast"])
def test_source_rowid_passthrough(spark, strategy):
    """O15: with_rowid forwards a stable per-row surrogate (the engine's
    $rowid$ analogue) on upserts and NULL on deletes — the reference takes
    it from the source side of the outer join
    (S4HanaTableMapping.java:452)."""
    log = _pklog(spark, [("U", 1, 15, 1), ("D", 9, 16, 1)])
    src = _source(spark, [(1, "alive")])
    out = {
        r["id"]: r
        for r in C.cdc_delta(
            src, log, MAPPING, 0, 100, strategy=strategy, with_rowid=True
        ).collect()
    }
    assert out[1]["__source_rowid"] is not None
    assert out[9]["__source_rowid"] is None
    # surrogate is deterministic: same PK -> same rowid on a re-run
    again = {
        r["id"]: r["__source_rowid"]
        for r in C.cdc_delta(
            src, log, MAPPING, 0, 100, strategy=strategy, with_rowid=True
        ).collect()
    }
    assert again[1] == out[1]["__source_rowid"]


@pytest.mark.parametrize("strategy", ["outer", "broadcast"])
def test_delta_strategies_agree_on_edge_keys(spark, strategy):
    """Both strategies are the reference's outer join (broadcast only
    changes the physical plan), so they return the same multiset on the
    edges too: a log PK that does not cast to the source type is a 'D'
    with a NULL key under non-ANSI casts (and the same cast error in both
    under ANSI), and a duplicated source PK yields one row per duplicate."""
    log = _pklog(spark, [("U", 1, 10, 1), ("U", "x1", 11, 1), ("D", 9, 12, 1), ("U", 2, 13, 1)])
    src = _source(spark, [(1, "a"), (1, "b"), (2, "c"), (3, "unchanged")])
    other = "outer" if strategy == "broadcast" else "broadcast"

    def delta(st):
        rows = C.cdc_delta(src, log, MAPPING, 0, 100, strategy=st, with_rowid=True).collect()
        return sorted((tuple(r) for r in rows), key=repr)

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        got = delta(strategy)
        assert got == delta(other)
        assert [r[:4] for r in got] == [
            ("A", 10, 1, "a"), ("A", 10, 1, "b"), ("A", 13, 2, "c"),
            ("D", 11, None, None), ("D", 12, 9, None),
        ]
        assert [r[4] is None for r in got] == [False, False, False, True, True]
        spark.conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            delta(strategy)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_initial_load_rowid(spark):
    """O15 on the initial select (S4HanaTableMapping.java:744)."""
    src = _source(spark, [(1, "a"), (2, "b")])
    out = C.initial_load(src, MAPPING, with_rowid=True).collect()
    rids = {r["id"]: r["__source_rowid"] for r in out}
    assert len(set(rids.values())) == 2  # unique per row
    assert all(v is not None for v in rids.values())


def test_scd2_versions_delete_terminates(spark):
    """E13: SCD2 reconstruction — each change valid until the key's next
    change; a delete closes the prior version without opening one."""
    log = _pklog(
        spark,
        [("I", 1, 10, 1), ("U", 1, 12, 1), ("D", 1, 15, 1), ("I", 2, 11, 1)],
    )
    cv = log.select(
        F.col("pk1").cast("bigint").alias("id"),
        "change_type",
        F.col("transactionid").alias("_transactionid"),
    )
    out = C.scd2_versions(cv, ["id"])
    rows = {(r["id"], r["_transactionid"]): r for r in out.collect()}
    # delete row itself is dropped
    assert (1, 15) not in rows
    assert rows[(1, 10)]["__valid_from"] == 10
    assert rows[(1, 10)]["__valid_to"] == 12
    assert rows[(1, 10)]["__is_current"] is False
    # the update's version is closed by the delete -> key 1 has no current
    assert rows[(1, 12)]["__valid_to"] == 15
    assert rows[(1, 12)]["__is_current"] is False
    # untouched key stays open
    assert rows[(2, 11)]["__valid_to"] is None
    assert rows[(2, 11)]["__is_current"] is True


def test_scd2_same_transaction_tiebreak(spark):
    """Insert+update batched in one transaction version deterministically
    (change_type ascending: I before U)."""
    log = _pklog(spark, [("U", 1, 10, 2), ("I", 1, 10, 1)])
    cv = log.select(
        F.col("pk1").cast("bigint").alias("id"),
        "change_type",
        F.col("transactionid").alias("_transactionid"),
    )
    rows = {r["change_type"]: r for r in C.scd2_versions(cv, ["id"]).collect()}
    assert rows["I"]["__valid_to"] == 10 and rows["I"]["__is_current"] is False
    assert rows["U"]["__valid_to"] is None and rows["U"]["__is_current"] is True


class TestSnapshotAsOf:
    def test_membership_semantics(self, spark):
        from s4hanaconnector_spark.operators.cdc import snapshot_as_of

        base = spark.createDataFrame([(1,), (2,), (3,)], "k long")
        cv = spark.createDataFrame(
            [
                (2, "D", 10, 1),     # delete of baseline key before cutoff
                (3, "U", 5, 1),      # update
                (3, "D", 50, 1),     # ...deleted AFTER cutoff -> still present
                (9, "I", 12, 1),     # insert of new key
                (4, "D", 8, 1),      # delete of never-existed key -> absent
                (5, "I", 6, 1),      # insert...
                (5, "D", 7, 1),      # ...then deleted before cutoff -> absent
            ],
            "k long, change_type string, transactionid long, transaction_seq int",
        )
        rows = {
            r["k"]: r
            for r in snapshot_as_of(
                base, cv, ["k"], as_of_txid=20, ord_col="transactionid"
            ).collect()
        }
        assert set(rows) == {1, 3, 9}
        assert rows[1]["last_change_type"] == "B" and rows[1]["last_txid"] is None
        assert rows[3]["last_change_type"] == "U" and rows[3]["last_txid"] == 5
        assert rows[9]["last_change_type"] == "I"

    def test_same_txid_tiebreak_is_delete_wins(self, spark):
        """Same (txid, seq) ties resolve by latest_per_pk's change-type rank
        (D=3 > U=2 > I=1), NOT lexicographically ('U' > 'D'): time travel at
        the current txid must agree with the apply_changes-materialized
        table, which removes the key when D wins the same tie."""
        from s4hanaconnector_spark.operators.cdc import snapshot_as_of

        base = spark.createDataFrame([(1,)], "k long")
        cv = spark.createDataFrame(
            [(1, "D", 10, 1), (1, "U", 10, 1)],
            "k long, change_type string, transactionid long, transaction_seq int",
        )
        rows = snapshot_as_of(base, cv, ["k"], 20, ord_col="transactionid").collect()
        assert rows == []  # delete wins the tie -> key absent, as applied state says


def test_maintain_grouped_agg_drops_emptied_group(spark):
    """Deleting every row of a group removes the group from the maintained
    aggregate (and a group move subtracts from one group, adds to the
    other)."""
    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 5.0)],
        "id bigint, grp string, v double",
    )
    batch = spark.createDataFrame(
        [("D", 3, None, None), ("U", 2, "c", 21.0)],
        "_change_type string, id bigint, grp string, v double",
    )
    out = {
        r["grp"]: (r["n_rows"], float(r["measure_sum"]))
        for r in C.maintain_grouped_agg(
            snap, batch, ["id"], ["grp"], "v"
        ).collect()
    }
    assert out == {"a": (1, 10.0), "c": (1, 21.0)}  # b emptied, 2 moved a->c


def test_seven_pk_columns_rejected():
    """The reference hard-caps mappings at 6 PK columns
    (S4HanaTableMapping.java:137-139) — a 7-PK mapping must be rejected at
    construction, before any PKLOG column could silently drop."""
    from s4hanaconnector_spark.mapping import ColumnMapping, TableMapping

    pks = [f"k{i}" for i in range(1, 8)]
    with pytest.raises(ValueError, match="6 primary key columns"):
        TableMapping(
            name="too_many",
            mastertable="too_many",
            columnmappings=[ColumnMapping(c, f'"L1"."{c}"') for c in pks],
            pkcolumns=pks,
        )


def test_maintain_grouped_agg_two_changes_one_pk(spark):
    """A batch carrying insert+update for ONE PK in one transaction (the
    exact case apply_changes's window dedup exists for) must contribute the
    LATEST row once, not both rows — the maintained aggregate has to equal
    apply_changes + recompute."""
    snap = spark.createDataFrame(
        [(1, "a", 10.0)], "id bigint, grp string, v double"
    )
    batch = spark.createDataFrame(
        # id=2: I(v=100) then U(v=7) at the same txid, seq orders them;
        # id=1: U then D — the delete must win, so group a keeps only... nothing new
        [
            ("I", 2, "a", 100.0, 5, 1),
            ("U", 2, "a", 7.0, 5, 2),
            ("U", 1, "a", 99.0, 5, 1),
            ("D", 1, None, None, 5, 2),
        ],
        "_change_type string, id bigint, grp string, v double,"
        " _transactionid bigint, transaction_seq int",
    )
    maintained = {
        r["grp"]: (r["n_rows"], float(r["measure_sum"]))
        for r in C.maintain_grouped_agg(snap, batch, ["id"], ["grp"], "v").collect()
    }
    assert maintained == {"a": (1, 7.0)}
    # cross-check against the ground truth: merge then recompute
    merged = C.apply_changes(snap, batch, ["id"])
    recomputed = {
        r["grp"]: (r["n_rows"], float(r["measure_sum"]))
        for r in merged.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("measure_sum"),
        )
        .collect()
    }
    assert maintained == recomputed


def test_snapshot_diff_roundtrips_through_apply_changes(spark):
    """The bootstrap invariant: apply_changes(old, snapshot_diff(old, new))
    reproduces new exactly — including NULL-safe U detection and D rows
    carrying only their PK."""
    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "id bigint, val string, x double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (4, "D4", None), (5, "e", 5.0)],
        "id bigint, val string, x double",
    )
    diff = C.snapshot_diff(old, new, ["id"])
    kinds = {r["id"]: r["_change_type"] for r in diff.collect()}
    # 1 unchanged -> absent; 2 NULL->value and 4 value->NULL are U; 3 gone; 5 new
    assert kinds == {2: "U", 3: "D", 4: "U", 5: "I"}
    applied = C.apply_changes(old, diff.withColumn("_transactionid", F.lit(1)), ["id"])
    assert sorted(map(tuple, applied.collect())) == sorted(map(tuple, new.collect()))


def test_apply_changes_evolving_adds_column_with_nulls(spark):
    """evolve_schema=True: a batch column unknown to the snapshot lands in
    the output schema, NULL for untouched rows; the default stays strict."""
    snap = _source(spark, [(1, "a"), (2, "b")])
    batch = spark.createDataFrame(
        [Row(_change_type="A", _transactionid=10, id=2, val="b2", extra="x")],
        "_change_type string, _transactionid bigint, id bigint, val string, extra string",
    )
    out = {r["id"]: (r["val"], r["extra"]) for r in
           C.apply_changes(snap, batch, ["id"], evolve_schema=True).collect()}
    assert out == {1: ("a", None), 2: ("b2", "x")}
    # default: batch projects onto the snapshot schema, extras ignored
    assert C.apply_changes(snap, batch, ["id"]).columns == snap.columns


def test_apply_changes_drift_gate(spark):
    """drift_mode runs the registry compatibility rules before the merge: an
    evolving batch with an added nullable column applies, a batch whose
    column changed type is rejected before any state mutates."""
    import pytest
    from pyspark.sql import Row

    from s4hanaconnector_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame([Row(id=1, val="a")], "id bigint, val string")
    ok_batch = spark.createDataFrame(
        [("A", 10, 2, "b", 1.5)],
        "_change_type string, _transactionid bigint, id bigint, val string, extra double",
    )
    out = apply_changes(snap, ok_batch, ["id"], evolve_schema=True, drift_mode="backward")
    assert {(r["id"], r["extra"]) for r in out.collect()} == {(1, None), (2, 1.5)}

    bad_batch = spark.createDataFrame(
        [("A", 10, 2, 99)],
        "_change_type string, _transactionid bigint, id bigint, val bigint",
    )
    with pytest.raises(ValueError, match="drift gate"):
        apply_changes(snap, bad_batch, ["id"], evolve_schema=True, drift_mode="backward")


def test_apply_changes_straggler_batch_missing_column_means_unchanged(spark):
    """A batch produced BEFORE a mapping rebuild lacks the snapshot's newer
    column; the drift gate approves it (writer-only fields are legal), so
    apply_changes must treat the missing column as UNCHANGED — old value
    recovered from the snapshot per PK, NULL for brand-new PKs — instead
    of crashing on an unresolved column."""
    snap = spark.createDataFrame(
        [(1, "a", "note1"), (2, "b", "note2")], "id bigint, v string, note string"
    )
    batch = spark.createDataFrame(
        [("U", 10, 1, "a2"), ("I", 10, 3, "c")],
        "_change_type string, _transactionid bigint, id bigint, v string",
    )
    out = {r["id"]: (r["v"], r["note"]) for r in C.apply_changes(snap, batch, ["id"]).collect()}
    assert out == {1: ("a2", "note1"), 2: ("b", "note2"), 3: ("c", None)}


def test_maintain_from_images_null_group_is_a_real_group(spark):
    """Image presence is the CHANGE TYPE's business, not g IS NULL: a 'U'
    moving a row out of the NULL group must subtract from it (pre-fix the
    null filter dropped that contribution and the NULL group's aggregate
    silently froze while a recompute said it changed)."""
    base = spark.createDataFrame(
        [(None, 1, 10.0), ("a", 2, 40.0)],
        "grp string, n_rows bigint, measure_sum double",
    )
    batch = spark.createDataFrame(
        [("U", None, 10.0, "a", 10.0)],
        "_change_type string, old_grp string, old_v double, new_grp string, new_v double",
    )
    out = {
        r["grp"]: (r["n_rows"], float(r["measure_sum"]))
        for r in C.maintain_grouped_agg_from_images(base, batch, "grp", "v").collect()
    }
    # NULL group emptied out and dropped; 'a' gained the moved row
    assert out == {"a": (3, 50.0)}


def test_compact_changes_tombstones_and_seq_tiebreak(spark):
    """compact_changes keeps the newest record per PK (multi-column order:
    txid then seq — the two rows a PK-update trigger emits in ONE
    transaction differ only in seq, S4HanaTableMapping.java:194-220),
    preserves 'D' tombstones by default, and drops them only for the
    materializing-consumer variant."""
    feed = spark.createDataFrame(
        [
            ("A", 10, 1, 1, "old"),
            ("A", 12, 1, 1, "mid"),
            ("D", 12, 2, 1, "dead"),   # newest for key 1 is the seq-2 delete
            ("A", 11, 1, 2, "live"),
            ("D", 9, 1, 3, "gone"),    # key 3's only record is a tombstone
        ],
        "_change_type string, _transactionid bigint, transaction_seq int, k bigint, v string",
    )
    out = {
        r["k"]: (r["_change_type"], r["_transactionid"], r["v"])
        for r in C.compact_changes(
            feed, ["k"], ord_cols=["_transactionid", "transaction_seq"]
        ).collect()
    }
    assert out == {1: ("D", 12, "dead"), 2: ("A", 11, "live"), 3: ("D", 9, "gone")}
    dropped = C.compact_changes(
        feed, ["k"], ord_cols=["_transactionid", "transaction_seq"],
        drop_tombstones=True,
    )
    assert {r["k"] for r in dropped.collect()} == {2}
    # DEFAULT ordinal must agree with latest_per_pk (txid, seq, D-wins rank)
    # so compacted-topic consumers and raw-feed appliers keep the same row —
    # a txid-only default would pick the seq-1 row here nondeterministically
    out_default = {
        r["k"]: (r["_change_type"], r["v"])
        for r in C.compact_changes(feed, ["k"]).collect()
    }
    assert out_default == {1: ("D", "dead"), 2: ("A", "live"), 3: ("D", "gone")}
    # same-txid same-seq tie resolves delete-wins via the change-type rank
    tie = spark.createDataFrame(
        [("U", 10, 1, 7, "upd"), ("D", 10, 1, 7, "del")],
        "_change_type string, _transactionid bigint, transaction_seq int, k bigint, v string",
    )
    assert C.compact_changes(tie, ["k"]).collect()[0]["_change_type"] == "D"
    with pytest.raises(ValueError, match="no CDC ordinal"):
        C.compact_changes(feed.select("k", "v"), ["k"])
