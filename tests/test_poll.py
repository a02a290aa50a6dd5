"""End-to-end poll-lifecycle tests (O24): two advancing polls over a
growing change log, watermark gating by in-flight transactions, impacted-
table fan-out, exactly-once range commits, and idempotent replay —
PerformanceIT's shape without HANA/Kafka."""

from __future__ import annotations

import datetime
import functools
import glob
import os

import pytest
from pyspark.sql import Row

from s4hanaconnector_spark.mapping import ColumnMapping, TableMapping
from s4hanaconnector_spark.poll import RangeCommitSink, poll

TS = datetime.datetime(2026, 1, 1, 12, 0, 0)
NOW = "2026-01-01 12:30:00"

MAPPING = TableMapping(
    name="t",
    mastertable="t",
    columnmappings=[
        ColumnMapping("id", '"L1"."id"'),
        ColumnMapping("val", '"L1"."val"'),
    ],
    pkcolumns=["id"],
)

PKLOG_SCHEMA = (
    "change_ts timestamp, schema_name string, change_type string, "
    "pk1 string, pk2 string, pk3 string, pk4 string, pk5 string, pk6 string, "
    "transactionid bigint, transaction_seq int, table_name string"
)


def _pklog(spark, rows, table="t"):
    return spark.createDataFrame(
        [
            Row(
                change_ts=TS, schema_name="S4", change_type=ct, pk1=str(pk),
                pk2=None, pk3=None, pk4=None, pk5=None, pk6=None,
                transactionid=tx, transaction_seq=1, table_name=table,
            )
            for ct, pk, tx in rows
        ],
        PKLOG_SCHEMA,
    )


def _txns(spark, rows):
    return spark.createDataFrame(
        [Row(update_transaction_id=tx, start_time=TS) for tx in rows],
        "update_transaction_id bigint, start_time timestamp",
    )


def _src(spark, rows):
    return spark.createDataFrame(
        [Row(id=i, val=v) for i, v in rows], "id bigint, val string"
    )


def test_two_polls_advance_and_commit(spark, tmp_path):
    sink = RangeCommitSink(str(tmp_path / "out"))
    src = _src(spark, [(1, "a"), (2, "b"), (3, "c")])
    load = lambda name: src

    # poll 1: changes at txid 10, 11; txid 12 belongs to an IN-FLIGHT writer
    # so the watermark stops at 11
    log1 = _pklog(spark, [("U", 1, 10), ("U", 2, 11), ("U", 3, 12)])
    hi1 = poll(spark, [MAPPING], load, log1, _txns(spark, [12]), 0, sink, NOW)
    assert hi1 == 11
    assert sink.committed("t", 11)
    out1 = spark.read.parquet(str(tmp_path / "out" / "t" / "txid_hi=11"))
    assert {r["id"] for r in out1.collect()} == {1, 2}

    # poll 2: writer 12 committed, nothing in flight -> drains the rest
    hi2 = poll(spark, [MAPPING], load, log1, _txns(spark, []), hi1, sink, NOW)
    assert hi2 == 12
    out2 = spark.read.parquet(str(tmp_path / "out" / "t" / "txid_hi=12"))
    assert {r["id"] for r in out2.collect()} == {3}


def test_empty_range_is_noop(spark, tmp_path):
    sink = RangeCommitSink(str(tmp_path / "out"))
    log = _pklog(spark, [("U", 1, 5)])
    hi = poll(spark, [MAPPING], lambda n: _src(spark, [(1, "a")]),
              log, _txns(spark, []), 5, sink, NOW)
    assert hi == 5  # nothing newer than the resume point
    assert not glob.glob(str(tmp_path / "out" / "t" / "*"))


def test_replay_is_idempotent(spark, tmp_path):
    sink = RangeCommitSink(str(tmp_path / "out"))
    src = _src(spark, [(1, "a")])
    log = _pklog(spark, [("U", 1, 10)])
    poll(spark, [MAPPING], lambda n: src, log, _txns(spark, []), 0, sink, NOW)
    data_dir = str(tmp_path / "out" / "t" / "txid_hi=10")
    mtimes = {p: os.path.getmtime(p) for p in glob.glob(data_dir + "/*")}
    # crash-after-commit replay: same range again
    hi = poll(spark, [MAPPING], lambda n: src, log, _txns(spark, []), 0, sink, NOW)
    assert hi == 10
    assert {p: os.path.getmtime(p) for p in glob.glob(data_dir + "/*")} == mtimes


def test_memory_topic_writer_same_replay_semantics(spark, tmp_path):
    """O26 portability: the Kafka-shaped MemoryTopicWriter drops into
    RangeCommitSink unchanged — committed ranges skip on replay, and a
    crashed (marker-less) delivery is REPLACED by the replay, never
    appended — the abort-and-republish contract of the Writer seam."""
    from s4hanaconnector_spark.poll import MemoryTopicWriter

    writer = MemoryTopicWriter()
    sink = RangeCommitSink(str(tmp_path / "out"), writer=writer)
    src = _src(spark, [(1, "a"), (2, "b")])
    log = _pklog(spark, [("U", 1, 10), ("U", 2, 10)])

    # crash window: delivery happened (uncommitted garbage on the topic),
    # marker missing
    writer.topics["t/txid_hi=10"] = [{"id": 999, "val": "orphan"}]
    hi = poll(spark, [MAPPING], lambda n: src, log, _txns(spark, []), 0, sink, NOW)
    assert hi == 10 and sink.committed("t", 10)
    delivered = writer.topics["t/txid_hi=10"]
    assert {r["id"] for r in delivered} == {1, 2}  # orphan replaced, no dupes

    # replay of the committed range: topic untouched
    before = [list(v) for v in writer.topics.values()]
    poll(spark, [MAPPING], lambda n: src, log, _txns(spark, []), 0, sink, NOW)
    assert [list(v) for v in writer.topics.values()] == before


def test_crash_between_data_write_and_marker_is_replay_safe(spark, tmp_path):
    """Crash-window proof for RangeCommitSink: a crash AFTER ``df.write`` but
    BEFORE the marker rename leaves orphan parquet under ``txid_hi=N`` with
    no commit marker. On replay the range must read as uncommitted, the
    orphan data must be overwritten (mode="overwrite"), and the final state
    is exactly-once rows plus a marker whose count matches what landed —
    the engine-side analogue of the reference's Kafka transaction abort
    (S4HanaProducer.java:458: an uncommitted txn's messages vanish)."""
    import json

    sink = RangeCommitSink(str(tmp_path / "out"))
    src = _src(spark, [(1, "a"), (2, "b")])
    log = _pklog(spark, [("U", 1, 10), ("U", 2, 10)])

    # Simulate the crash: partial/garbage data landed for the range, marker
    # never written.
    orphan_dir = str(tmp_path / "out" / "t" / "txid_hi=10")
    _src(spark, [(999, "orphan")]).write.parquet(orphan_dir)
    assert not sink.committed("t", 10)

    hi = poll(spark, [MAPPING], lambda n: src, log, _txns(spark, []), 0, sink, NOW)
    assert hi == 10
    assert sink.committed("t", 10)
    out = spark.read.parquet(orphan_dir)
    assert {r["id"] for r in out.collect()} == {1, 2}  # orphan gone, no dupes
    marker = json.load(open(str(tmp_path / "out" / "_commits" / "t.10.json")))
    assert marker["rows"] == out.count()


class TestTxnLatencyAlerting:
    """O22 (S4HanaProducer.java:339-358): open-transaction age classification
    with the reference's info>5 s / warn>60 s thresholds."""

    def test_boundaries(self):
        from s4hanaconnector_spark.operators.cdc import classify_txn_latency

        now = datetime.datetime(2026, 1, 1, 12, 0, 0)

        def at(age_s):
            return now - datetime.timedelta(seconds=age_s)

        assert classify_txn_latency(None, now) == "ok"
        assert classify_txn_latency(at(4.9), now) == "ok"
        assert classify_txn_latency(at(5.1), now) == "info"
        assert classify_txn_latency(at(59.9), now) == "info"
        assert classify_txn_latency(at(60.1), now) == "warn"
        # ISO-string clock (the poll() call shape)
        assert classify_txn_latency(at(61), "2026-01-01 12:00:00") == "warn"

    def test_poll_emits_alert_for_old_inflight_txn(self, spark, tmp_path):
        """A writer open since 30 min before NOW -> 'warn' surfaces through
        the poll loop's on_alert hook, and the watermark still gates at the
        writer's txid - 1."""
        sink = RangeCommitSink(str(tmp_path / "out"))
        src = _src(spark, [(1, "a"), (2, "b")])
        log = _pklog(spark, [("U", 1, 10), ("U", 2, 12)])
        alerts = []
        hi = poll(
            spark, [MAPPING], lambda n: src, log, _txns(spark, [12]), 0, sink,
            NOW, on_alert=lambda level, since: alerts.append((level, since)),
        )
        assert hi == 11
        assert alerts == [("warn", TS)]  # TS is 30 min before NOW

    def test_poll_quiet_when_no_writer_in_flight(self, spark, tmp_path):
        sink = RangeCommitSink(str(tmp_path / "out"))
        src = _src(spark, [(1, "a")])
        log = _pklog(spark, [("U", 1, 10)])
        alerts = []
        poll(
            spark, [MAPPING], lambda n: src, log, _txns(spark, []), 0, sink,
            NOW, on_alert=lambda level, since: alerts.append(level),
        )
        assert alerts == []


def test_impacted_fanout_skips_unchanged_mappings(spark, tmp_path):
    """Only mappings whose mastertable changed in the range are executed
    (tabledirectory fan-out, S4HanaProducer.java:400-420)."""
    other = TableMapping(
        name="u", mastertable="u",
        columnmappings=[ColumnMapping("id", '"L1"."id"'), ColumnMapping("val", '"L1"."val"')],
        pkcolumns=["id"],
    )
    sink = RangeCommitSink(str(tmp_path / "out"))
    src = _src(spark, [(1, "a")])
    log = _pklog(spark, [("U", 1, 10)], table="t")  # only t changed
    poll(spark, [MAPPING, other], lambda n: src, log, _txns(spark, []), 0, sink, NOW)
    assert sink.committed("t", 10)
    assert not sink.committed("u", 10)


def test_poll_quarantines_malformed_rows(spark, tmp_path):
    """quarantine=True: garbage log rows (NULL pk, unknown change type) land
    under the _quarantine range key and the emitted deltas equal a clean
    poll's — malformed rows neither poison the watermark nor become
    phantom deletes."""
    from pyspark.sql import Row as _Row

    from s4hanaconnector_spark.poll import RangeCommitSink, poll

    src = _src(spark, [(1, "a"), (2, "b")])
    clean_rows = [("U", 1, 10), ("U", 2, 11)]
    dirty = _pklog(spark, clean_rows).unionByName(
        spark.createDataFrame(
            [
                _Row(
                    change_ts=TS, schema_name="S4", change_type="U", pk1=None,
                    pk2=None, pk3=None, pk4=None, pk5=None, pk6=None,
                    transactionid=12, transaction_seq=1, table_name="t",
                ),
                _Row(
                    change_ts=TS, schema_name="S4", change_type="X", pk1="3",
                    pk2=None, pk3=None, pk4=None, pk5=None, pk6=None,
                    transactionid=12, transaction_seq=1, table_name="t",
                ),
                # NULL change_type: ~isin() alone is NULL-blind (r4 ADVICE)
                _Row(
                    change_ts=TS, schema_name="S4", change_type=None, pk1="4",
                    pk2=None, pk3=None, pk4=None, pk5=None, pk6=None,
                    transactionid=12, transaction_seq=1, table_name="t",
                ),
            ],
            _pklog(spark, []).schema,
        )
    )
    sink_d = RangeCommitSink(str(tmp_path / "dirty"))
    hi = poll(
        spark, [MAPPING], lambda n: src, dirty, _txns(spark, []), 0, sink_d, NOW,
        quarantine=True,
    )
    sink_c = RangeCommitSink(str(tmp_path / "clean"))
    hi_c = poll(
        spark, [MAPPING], lambda n: src, _pklog(spark, clean_rows),
        _txns(spark, []), 0, sink_c, NOW,
    )
    import os as _os

    # the dirty poll sees txid 12 (the structurally-bad rows still carry
    # valid txids is NOT guaranteed; here pk-null row has txid 12) so hi
    # may differ — compare the emitted DELTA CONTENT for the shared range
    dd = spark.read.parquet(str(tmp_path / "dirty" / MAPPING.name / f"txid_hi={hi}"))
    dc = spark.read.parquet(str(tmp_path / "clean" / MAPPING.name / f"txid_hi={hi_c}"))
    assert sorted(map(tuple, dd.collect())) == sorted(map(tuple, dc.collect()))
    # DLQ ranges carry their own sequence key (first attempt -> 0),
    # independent of the watermark — they ship even when it cannot advance
    dlq = spark.read.parquet(str(tmp_path / "dirty" / "_quarantine" / "txid_hi=0"))
    reasons = sorted(r["_quarantine_reason"] for r in dlq.collect())
    assert reasons == ["bad_change_type", "bad_change_type", "missing_pk"]


def test_poll_quarantine_ships_when_watermark_cannot_advance(spark, tmp_path):
    """A poll whose only NEW rows are malformed (NULL txid, so the watermark
    stays put) must still land them in the DLQ — pre-fix, the hi<=from_txid
    short-circuit dropped them silently (r4 ADVICE)."""
    from pyspark.sql import Row as _Row

    src = _src(spark, [(1, "a")])
    only_bad = spark.createDataFrame(
        [
            _Row(
                change_ts=TS, schema_name="S4", change_type="U", pk1=None,
                pk2=None, pk3=None, pk4=None, pk5=None, pk6=None,
                transactionid=None, transaction_seq=1, table_name="t",
            )
        ],
        _pklog(spark, []).schema,
    )
    sink = RangeCommitSink(str(tmp_path / "out"))
    hi = poll(
        spark, [MAPPING], lambda n: src, only_bad, _txns(spark, []), 5, sink, NOW,
        quarantine=True,
    )
    assert hi == 5  # watermark did not advance...
    # DLQ ranges are sequence-keyed (first attempt -> 0), never frontier-keyed
    dlq = spark.read.parquet(str(tmp_path / "out" / "_quarantine" / "txid_hi=0"))
    assert dlq.count() == 1  # ...but the malformed row shipped anyway


def test_poll_quarantine_null_txid_ships_once_across_polls(spark, tmp_path):
    """NULL-txid rows never age out of the log scan (no ordering), so the
    fingerprint side-state must dedup them: two advancing polls over a log
    carrying the same NULL-txid garbage ship it to the DLQ exactly once."""
    from pyspark.sql import Row as _Row

    src = _src(spark, [(1, "a"), (2, "b")])
    bad_row = spark.createDataFrame(
        [
            _Row(
                change_ts=TS, schema_name="S4", change_type="U", pk1="9",
                pk2=None, pk3=None, pk4=None, pk5=None, pk6=None,
                transactionid=None, transaction_seq=1, table_name="t",
            )
        ],
        _pklog(spark, []).schema,
    )
    sink = RangeCommitSink(str(tmp_path / "out"))
    log1 = _pklog(spark, [("U", 1, 10)]).unionByName(bad_row)
    hi1 = poll(
        spark, [MAPPING], lambda n: src, log1, _txns(spark, []), 0, sink, NOW,
        quarantine=True,
    )
    assert hi1 == 10
    log2 = log1.unionByName(_pklog(spark, [("U", 2, 20)]))
    hi2 = poll(
        spark, [MAPPING], lambda n: src, log2, _txns(spark, []), hi1, sink, NOW,
        quarantine=True,
    )
    assert hi2 == 20
    shipped = spark.read.parquet(str(tmp_path / "out" / "_quarantine" / "*"))
    assert shipped.count() == 1  # shipped once; poll 2 is stopped by the fingerprint state


def test_poll_quarantine_new_garbage_while_stuck_still_ships(spark, tmp_path):
    """A stuck watermark repeats from_txid across polls; garbage arriving
    between attempts must still ship (sequence-keyed DLQ ranges), and
    nothing ships twice (fingerprint side-state) — the silent-drop corner
    of a frontier-keyed DLQ marker."""
    from pyspark.sql import Row as _Row

    def bad_row(pk):
        return spark.createDataFrame(
            [
                _Row(
                    change_ts=TS, schema_name="S4", change_type="U", pk1=pk,
                    pk2=None, pk3=None, pk4=None, pk5=None, pk6=None,
                    transactionid=None, transaction_seq=1, table_name="t",
                )
            ],
            _pklog(spark, []).schema,
        )

    src = _src(spark, [(1, "a")])
    sink = RangeCommitSink(str(tmp_path / "out"))
    # poll 1: frontier stuck at 5, one NULL-txid garbage row -> ships
    hi1 = poll(
        spark, [MAPPING], lambda n: src, bad_row("g1"), _txns(spark, []),
        5, sink, NOW, quarantine=True,
    )
    assert hi1 == 5
    # poll 2: SAME frontier, old garbage still in the log, NEW garbage too
    log2 = bad_row("g1").unionByName(bad_row("g2"))
    hi2 = poll(
        spark, [MAPPING], lambda n: src, log2, _txns(spark, []),
        5, sink, NOW, quarantine=True,
    )
    assert hi2 == 5
    dlq = spark.read.parquet(str(tmp_path / "out" / "_quarantine" / "*"))
    assert sorted(r["pk1"] for r in dlq.collect()) == ["g1", "g2"]


def test_poll_rejects_duplicate_mapping_names(spark, tmp_path):
    """Two mappings sharing a name would collide on one commit-marker key
    and the second delta would silently skip as 'already committed' —
    refuse loudly instead."""
    dup = TableMapping(
        name="t", mastertable="u",
        columnmappings=[ColumnMapping("id", '"L1"."id"')], pkcolumns=["id"],
    )
    sink = RangeCommitSink(str(tmp_path / "out"))
    with pytest.raises(ValueError, match="duplicate mapping names"):
        poll(
            spark, [MAPPING, dup], lambda n: _src(spark, [(1, "a")]),
            _pklog(spark, [("U", 1, 10)]), _txns(spark, []), 0, sink, NOW,
        )


def test_poll_crash_partway_then_advance_never_overlaps_ranges(spark, tmp_path):
    """Crash after mapping A committed but before mapping B, then the
    watermark advances: the replayed poll must resume A from ITS OWN last
    committed hi, so A's two committed ranges never carry the same row —
    the per-mapping form of the reference's single-transaction atomicity."""
    import os as _os

    m_b = TableMapping(
        name="u", mastertable="u",
        columnmappings=[ColumnMapping("id", '"L1"."id"'), ColumnMapping("val", '"L1"."val"')],
        pkcolumns=["id"],
    )
    src = _src(spark, [(1, "a"), (2, "b")])
    sink = RangeCommitSink(str(tmp_path / "out"))
    log1 = _pklog(spark, [("U", 1, 10)]).unionByName(_pklog(spark, [("U", 1, 10)], table="u"))
    # poll 1 commits BOTH at hi=10; simulate the crash by deleting u's marker
    hi1 = poll(spark, [MAPPING, m_b], lambda n: src, log1, _txns(spark, []), 0, sink, NOW)
    assert hi1 == 10
    _os.remove(str(tmp_path / "out" / "_commits" / "u.10.json"))
    # watermark advances before the replay (new change at txid 20 on t)
    log2 = log1.unionByName(_pklog(spark, [("U", 2, 20)]))
    hi2 = poll(spark, [MAPPING, m_b], lambda n: src, log2, _txns(spark, []), 0, sink, NOW)
    assert hi2 == 20
    # t resumed from its committed hi=10: the new range carries ONLY txid-20
    t_20 = spark.read.parquet(str(tmp_path / "out" / "t" / "txid_hi=20"))
    assert {r["id"] for r in t_20.collect()} == {2}
    # u (uncommitted at 10) re-emitted its full range under the new hi
    u_20 = spark.read.parquet(str(tmp_path / "out" / "u" / "txid_hi=20"))
    assert {r["id"] for r in u_20.collect()} == {1}


def _mapping(name):
    return TableMapping(
        name=name, mastertable=name,
        columnmappings=[ColumnMapping("id", '"L1"."id"'), ColumnMapping("val", '"L1"."val"')],
        pkcolumns=["id"],
    )


# three mappings, one per physical table
TUV = [MAPPING, _mapping("u"), _mapping("v")]


def _log_over(spark, changes):
    """One change log over several tables: ``{table: [(pk, txid), ...]}``."""
    logs = [_pklog(spark, [("U", pk, tx) for pk, tx in rows], table=t)
            for t, rows in changes.items()]
    return functools.reduce(lambda a, b: a.unionByName(b), logs)


def test_poll_emits_impacted_mappings_concurrently(spark, tmp_path):
    """The impacted mappings' units are in flight together: every write
    waits at a three-party barrier before delivering, so a poll that
    emitted its mappings one after another would break the barrier on its
    first write and raise."""
    import threading

    from s4hanaconnector_spark.poll import ParquetWriter, Writer

    if spark.sparkContext.defaultParallelism < 3:
        pytest.skip("the unit pool is sized by defaultParallelism, here < 3")

    class BarrierWriter(Writer):
        def __init__(self, out_dir):
            self.inner = ParquetWriter(out_dir)
            self.barrier = threading.Barrier(3, timeout=30)

        def write(self, key, df):
            self.barrier.wait()
            return self.inner.write(key, df)

    out = str(tmp_path / "out")
    sink = RangeCommitSink(out, writer=BarrierWriter(out))
    src = _src(spark, [(1, "a"), (2, "b"), (3, "c")])
    log = _log_over(spark, {"t": [(1, 10)], "u": [(2, 10)], "v": [(3, 10)]})
    hi = poll(spark, TUV, lambda n: src, log, _txns(spark, []), 0, sink, NOW)
    assert hi == 10
    for name, pk in (("t", 1), ("u", 2), ("v", 3)):
        assert sink.committed(name, 10)
        got = spark.read.parquet(os.path.join(out, name, "txid_hi=10"))
        assert [(r["id"], r["val"]) for r in got.collect()] == [(pk, "abc"[pk - 1])]


def test_poll_failed_unit_reraises_and_replay_emits_only_its_range(spark, tmp_path):
    """One of three mappings' delivery fails: poll re-raises that very
    exception after the other units finish, their ranges stay committed,
    and a replay after the watermark advanced emits rows only into the
    failed mapping's range — no mapping ever holds two committed ranges
    that share a row (the crash-partway contract, reached by a failure)."""
    import json

    from s4hanaconnector_spark.poll import ParquetWriter, Writer

    class FailingU(Writer):
        def __init__(self, out_dir):
            self.inner = ParquetWriter(out_dir)
            self.boom = RuntimeError("delivery of u failed")
            self.armed = True

        def write(self, key, df):
            if self.armed and key.split(os.sep)[0] == "u":
                raise self.boom
            return self.inner.write(key, df)

    out = str(tmp_path / "out")
    writer = FailingU(out)
    sink = RangeCommitSink(out, writer=writer)
    src = _src(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")])
    log1 = _log_over(spark, {"t": [(1, 10)], "u": [(2, 10)], "v": [(3, 10)]})
    with pytest.raises(RuntimeError) as ei:
        poll(spark, TUV, lambda n: src, log1, _txns(spark, []), 0, sink, NOW)
    assert ei.value is writer.boom
    assert sink.committed("t", 10) and sink.committed("v", 10)
    assert sink.last_committed("u") is None

    # the caller never got hi, so it replays from 0; the watermark has
    # advanced by then (u changed again at txid 20)
    writer.armed = False
    log2 = log1.unionByName(_pklog(spark, [("U", 4, 20)], table="u"))
    hi = poll(spark, TUV, lambda n: src, log2, _txns(spark, []), 0, sink, NOW)
    assert hi == 20

    def rows(name, hi):
        with open(sink.log.marker(f"{name}.{hi}")) as f:
            return json.load(f)["rows"]

    # t and v resumed from their own hi=10: their new ranges are empty
    assert (rows("t", 20), rows("u", 20), rows("v", 20)) == (0, 2, 0)
    u_20 = spark.read.parquet(os.path.join(out, "u", "txid_hi=20"))
    assert sorted(r["id"] for r in u_20.collect()) == [2, 4]
    for name in ("t", "u", "v"):
        ids = [r["id"] for r in sink.read_committed(spark, name).collect()]
        assert len(ids) == len(set(ids)), f"{name}: overlapping committed ranges"


def test_poll_jobs_inherit_the_callers_job_group(spark, tmp_path):
    """Jobs the pool threads start carry the caller's job group, so
    ``cancelJobGroup`` still reaches the whole poll."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sink = RangeCommitSink(str(tmp_path / "out"))
    src = _src(spark, [(1, "a"), (2, "b"), (3, "c")])
    log = _log_over(spark, {"t": [(1, 10)], "u": [(2, 10)], "v": [(3, 10)]})
    bus.waitUntilEmpty()
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("poll-g", "three-mapping poll")
    try:
        assert poll(spark, TUV, lambda n: src, log, _txns(spark, []), 0, sink, NOW) == 10
    finally:
        sc._jsc.clearJobGroup()  # _jobs_run_by asserts no group is set
    bus.waitUntilEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped
    # the watermark and impacted-table collects, plus a write per mapping
    assert len(sc.statusTracker().getJobIdsForGroup("poll-g")) >= 5
    assert all(sink.committed(n, 10) for n in ("t", "u", "v"))


def test_poll_concurrent_memory_deliveries_lose_nothing(spark, tmp_path):
    """Stress of the Writer contract: five mappings delivered side by side
    into one MemoryTopicWriter under a short thread switch interval each
    land exactly their own rows and marker."""
    import sys

    from s4hanaconnector_spark.poll import MemoryTopicWriter

    names = ["t", "u", "v", "w", "x"]
    writer = MemoryTopicWriter()
    sink = RangeCommitSink(str(tmp_path / "out"), writer=writer)
    src = _src(spark, [(i, f"v{i}") for i in range(len(names))])
    log = _log_over(spark, {n: [(i, 10)] for i, n in enumerate(names)})
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        hi = poll(spark, [_mapping(n) for n in names], lambda n: src, log,
                  _txns(spark, []), 0, sink, NOW)
    finally:
        sys.setswitchinterval(old)
    assert hi == 10
    assert {k: [r["id"] for r in v] for k, v in writer.topics.items()} == {
        os.path.join(n, "txid_hi=10"): [i] for i, n in enumerate(names)
    }
    assert all(sink.committed(n, 10) for n in names)


def test_truncated_marker_reads_uncommitted(spark, tmp_path):
    """Host-crash hardening: a power loss can leave the renamed marker with
    empty/partial contents (rename durable, data pages lost). committed()
    must treat an unparsable marker as UNCOMMITTED so the range replays,
    and last_committed() must not use it as a resume point (that would skip
    the very range that needs replaying)."""
    sink = RangeCommitSink(str(tmp_path))
    df = spark.createDataFrame([(1, "a")], "id int, val string")
    sink.write("t", 5, df)
    assert sink.committed("t", 5)
    assert sink.last_committed("t") == 5
    # simulate torn marker for the next range
    sink.write("t", 9, df)
    with open(sink.log.marker("t.9"), "w") as f:
        f.write('{"name": "t", "txid')  # truncated JSON
    assert not sink.committed("t", 9)
    assert sink.last_committed("t") == 5
    # replay heals it
    assert sink.write("t", 9, df) == 1
    assert sink.committed("t", 9)
    assert sink.last_committed("t") == 9


def _jobs_run_by(spark, action):
    """``(jobs started while action() ran, its result)`` — a statusTracker
    diff, after the listener bus has drained."""
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    out = action()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup(None)) - before), out


def test_parquet_writer_counts_during_the_write(spark, tmp_path):
    """The parquet sink counts rows inside its own write job: it runs
    exactly as many jobs as a bare ``df.write.parquet`` of the same frame
    (no read-back job), and returns the rows that landed."""
    from s4hanaconnector_spark.operators.cdc import cdc_delta
    from s4hanaconnector_spark.poll import ParquetWriter

    src = _src(spark, [(i, f"v{i}") for i in range(50)])
    log = _pklog(spark, [("U", i, 10 + i % 3) for i in range(0, 80, 2)])
    df = cdc_delta(src, log, MAPPING, 0, 100, strategy="broadcast")
    sink_jobs, n = _jobs_run_by(spark, lambda: ParquetWriter(str(tmp_path / "sink")).write("k", df))
    bare_jobs, _ = _jobs_run_by(spark, lambda: df.write.parquet(str(tmp_path / "bare")))
    assert sink_jobs == bare_jobs > 0
    landed = spark.read.parquet(str(tmp_path / "sink" / "k"))
    assert n == landed.count() == 40
    assert landed.filter("_change_type = 'D'").count() == 15


@pytest.mark.parametrize("empty", ["filter", "limit0"])
def test_parquet_writer_empty_frame_counts_zero(spark, tmp_path, empty):
    """An empty frame still completes its observation: the writer returns
    0 instead of blocking forever on ``Observation.get``."""
    import threading

    from s4hanaconnector_spark.poll import ParquetWriter

    df = _src(spark, [(1, "a"), (2, "b")])
    df = df.filter("id < 0") if empty == "filter" else df.limit(0)
    got = {}
    t = threading.Thread(
        target=lambda: got.setdefault("n", ParquetWriter(str(tmp_path)).write("k", df)),
        daemon=True,
    )
    t.start()
    t.join(120)
    assert not t.is_alive(), "ParquetWriter.write blocked on an empty frame"
    assert got["n"] == 0


def test_quarantine_seen_compaction_preserves_dedup(spark, tmp_path):
    """The fingerprint side-state is append-only (plus crash-replay
    duplicates); compaction must rewrite it distinct + few-file without
    changing dedup semantics, and recover from a crashed half-swap."""
    import shutil

    from s4hanaconnector_spark.poll import _compact_quarantine_seen

    seen = str(tmp_path / "_quarantine_seen")
    fps = spark.createDataFrame([(f"fp{i}",) for i in range(10)], "_row_md5 string")
    # fragment the state: many appends, with duplicates (crash replays)
    for _ in range(5):
        fps.repartition(20).write.mode("append").parquet(seen)
    n_before = spark.read.parquet(seen).count()
    assert n_before == 50
    _compact_quarantine_seen(spark, seen, max_files=16)
    files = [f for f in os.listdir(seen) if f.endswith(".parquet")]
    assert len(files) <= 8
    got = sorted(r["_row_md5"] for r in spark.read.parquet(seen).collect())
    assert got == sorted(f"fp{i}" for i in range(10))
    # below the threshold: no-op
    _compact_quarantine_seen(spark, seen, max_files=16)
    # crashed half-swap: seen gone, .compact present -> recovered
    shutil.move(seen, seen + ".compact")
    _compact_quarantine_seen(spark, seen, max_files=16)
    assert sorted(r["_row_md5"] for r in spark.read.parquet(seen).collect()) == got


def test_quarantine_crash_before_fingerprint_append_reships_never_loses(spark, tmp_path):
    """The quarantine's own crash window: DLQ data commits BEFORE the
    fingerprint append, so a crash between the two must RE-SHIP those rows
    under the next sequence key on the following poll (at-least-once,
    never lost) — and once the fingerprints finally land, shipping stops."""
    import shutil

    from pyspark.sql import Row as _Row

    src = _src(spark, [(1, "a")])
    bad_row = spark.createDataFrame(
        [
            _Row(
                change_ts=TS, schema_name="S4", change_type="U", pk1=None,
                pk2=None, pk3=None, pk4=None, pk5=None, pk6=None,
                transactionid=1000, transaction_seq=1, table_name="t",
            )
        ],
        _pklog(spark, []).schema,
    )
    log = _pklog(spark, [("U", 1, 10)]).unionByName(bad_row)
    out = str(tmp_path / "out")
    sink = RangeCommitSink(out)
    args = (spark, [MAPPING], lambda n: src, log, _txns(spark, []))
    poll(*args, 0, sink, NOW, quarantine=True)
    assert spark.read.parquet(os.path.join(out, "_quarantine")).count() == 1
    # simulate the crash: the range committed but the fingerprint append
    # never became durable
    shutil.rmtree(os.path.join(out, "_quarantine_seen"))
    poll(*args, 0, sink, NOW, quarantine=True)  # crash-replayed poll
    shipped = spark.read.parquet(os.path.join(out, "_quarantine"))
    assert shipped.count() == 2  # re-shipped under seq 1: duplicated, not lost
    assert sink.committed("_quarantine", 0) and sink.committed("_quarantine", 1)
    # fingerprints are durable now: a third poll ships nothing
    poll(*args, 0, sink, NOW, quarantine=True)
    assert spark.read.parquet(os.path.join(out, "_quarantine")).count() == 2


def test_read_committed_and_compaction_over_sink(spark, tmp_path):
    """The consumer-side topic operations over a REAL sink directory: two
    advancing polls commit two ranges, a crash leaves one ORPHAN
    (marker-less) range dir, then read_committed must see exactly the
    committed ranges (aborted-transaction invisibility) and compact_changes
    over them must equal the one-shot delta over the full feed — the
    lossless-compaction contract."""
    from s4hanaconnector_spark.operators.cdc import cdc_delta, compact_changes

    sink = RangeCommitSink(str(tmp_path / "out"))
    src = _src(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")])
    load = lambda name: src

    log = _pklog(
        spark,
        [("U", 1, 10), ("U", 2, 11), ("U", 1, 15), ("D", 9, 16), ("U", 4, 20)],
    )
    hi1 = poll(spark, [MAPPING], load, log, _txns(spark, [16]), 0, sink, NOW)
    assert hi1 == 15
    hi2 = poll(spark, [MAPPING], load, log, _txns(spark, []), hi1, sink, NOW)
    assert hi2 == 20

    # crash window: a data dir for a THIRD range exists but its marker never
    # landed — read_committed must not see it
    orphan = tmp_path / "out" / "t" / "txid_hi=99"
    src.limit(1).selectExpr(
        "'A' AS _change_type", "CAST(99 AS BIGINT) AS _transactionid",
        "id", "val",
    ).write.parquet(str(orphan))

    assert sink.committed_keys("t") == [15, 20]
    committed = sink.read_committed(spark, "t")
    assert committed.filter("_transactionid = 99").count() == 0

    compacted = compact_changes(committed, ["id"])
    one_shot = cdc_delta(src, log, MAPPING, 0, hi2)
    a = {tuple(r) for r in compacted.select(*one_shot.columns).collect()}
    b = {tuple(r) for r in one_shot.collect()}
    assert a == b
    # the materializing variant drops the txid-16 tombstone for pk 9
    assert compact_changes(committed, ["id"], drop_tombstones=True).filter(
        "_change_type = 'D'"
    ).count() == 0


def test_read_committed_merges_evolved_range_schemas(spark, tmp_path):
    """Ranges emitted across a mapping rebuild (O28 additive evolution)
    differ in columns; read_committed must union the schemas (mergeSchema)
    instead of letting a single-footer inference silently drop the newer
    column from every row — which would make the compact CLI write a base
    permanently missing it."""
    from pyspark.sql import Row

    sink = RangeCommitSink(str(tmp_path / "out"))
    old = spark.createDataFrame(
        [Row(_change_type="A", _transactionid=10, id=1, val="a")],
        "_change_type string, _transactionid bigint, id bigint, val string",
    )
    new = spark.createDataFrame(
        [Row(_change_type="A", _transactionid=20, id=2, val="b", note="n")],
        "_change_type string, _transactionid bigint, id bigint, val string, note string",
    )
    sink.write("t", 10, old)
    sink.write("t", 20, new)
    got = sink.read_committed(spark, "t")
    assert "note" in got.columns
    rows = {r["id"]: r["note"] for r in got.collect()}
    assert rows == {1: None, 2: "n"}


def test_materialize_snapshot_time_travel_over_sink(spark, tmp_path):
    """Consumer-side state reconstruction from the sink itself: two
    committed ranges, materialized WITH a base at two as-of points and
    WITHOUT a base (bootstrap mode: the topic carries its own initial
    load), each equal to the reference apply over the corresponding cut."""
    from s4hanaconnector_spark.operators.cdc import apply_changes
    from s4hanaconnector_spark.poll import materialize_snapshot

    sink = RangeCommitSink(str(tmp_path / "out"))
    src = _src(spark, [(1, "a"), (2, "b"), (3, "c")])
    load = lambda name: src
    # pk 9 is NOT in the source: the delta classifies it 'D' (a log 'D'
    # whose key still exists would correctly re-classify as an upsert)
    log = _pklog(spark, [("U", 1, 10), ("D", 9, 11), ("U", 3, 20), ("U", 1, 21)])
    # in-flight writer at txid 20 gates the watermark to 19 (oldest-active
    # minus one), so range 1 carries txids 10 and 11
    hi1 = poll(spark, [MAPPING], load, log, _txns(spark, [20]), 0, sink, NOW)
    assert hi1 == 19
    hi2 = poll(spark, [MAPPING], load, log, _txns(spark, []), hi1, sink, NOW)
    assert hi2 == 21

    base = _src(spark, [(1, "old1"), (9, "old9"), (4, "keep")])

    def state(df):
        return {(r["id"], r["val"]) for r in df.collect()}

    # as-of the first range: 1 refreshed, 9 tombstoned, 4 untouched
    got = materialize_snapshot(spark, sink, "t", ["id"], base=base, as_of_txid=hi1)
    assert state(got) == {(1, "a"), (4, "keep")}
    # full replay equals applying the union of committed ranges in one MERGE
    got_full = materialize_snapshot(spark, sink, "t", ["id"], base=base)
    ref = apply_changes(base, sink.read_committed(spark, "t"), ["id"])
    assert state(got_full) == state(ref) == {(1, "a"), (3, "c"), (4, "keep")}
    # bootstrap mode: no base — upserts only, tombstones produce nothing
    got_boot = materialize_snapshot(spark, sink, "t", ["id"])
    assert state(got_boot) == {(1, "a"), (3, "c")}
