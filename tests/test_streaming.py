"""Streaming tests (E16-E17, E24-E26): file-source micro-batches driven to
completion with processAllAvailable, mirroring the reference's poll loop
(SURVEY §3.1) without Kafka/HANA."""

from __future__ import annotations

import datetime
import glob
import json
import os
from contextlib import contextmanager

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from s4hanaconnector_spark.mapping import ColumnMapping, TableMapping
from s4hanaconnector_spark.poll import RangeCommitSink, poll
from s4hanaconnector_spark.queries.cdc import ORDERS_IDENTITY
from s4hanaconnector_spark.streaming import (
    changes_stream,
    drain,
    poll_each_batch,
    session_window_agg,
    sliding_window_agg,
    stateful_dedup,
    transactional_sink,
    tumbling_window_agg,
)
from s4hanaconnector_spark.streaming.core import PKLOG_DDL

from tests.test_poll import MAPPING, NOW, _src, _txns

T0 = datetime.datetime(2026, 1, 1, 0, 0, 0)


def _write_poll(spark, log_dir, rows, name):
    """One producer poll's worth of PKLOG rows as ONE parquet file directly
    in the watched directory (the file stream source does not recurse into
    subdirectories)."""
    import shutil
    import tempfile

    df = spark.createDataFrame(rows, PKLOG_DDL)
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "w")
        df.coalesce(1).write.parquet(out)
        part = glob.glob(os.path.join(out, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(log_dir, name))


def _pklog_row(ct, pk, txid, seq=1, ts=T0, table="orders"):
    return Row(
        change_ts=ts, schema_name="S4", change_type=ct, pk1=str(pk),
        pk2=None, pk3=None, pk4=None, pk5=None, pk6=None,
        transactionid=txid, transaction_seq=seq, table_name=table,
    )


def _drain_into(stream, on_batch, ckpt):
    """One AvailableNow run of the poll trigger on ``ckpt``; returns the
    batch ids its progress events report. A run that finds no new file
    still reports the next id without calling the trigger."""
    q = drain(stream.writeStream.foreachBatch(on_batch).option("checkpointLocation", ckpt))
    return [p["batchId"] for p in q.recentProgress]


def test_changes_stream_cdc_foreachbatch(spark, sf_dir, tmp_path):
    """E17 end-to-end: change feed -> micro-batches -> poll() per batch ->
    RangeCommitSink. Each poll's delta lands exactly once, keyed by its
    txid range."""
    log_dir = str(tmp_path / "pklog")
    os.makedirs(log_dir)

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    some_keys = [r["o_orderkey"] for r in orders.limit(3).collect()]
    _write_poll(
        spark, log_dir,
        [_pklog_row("U", k, 100 + i) for i, k in enumerate(some_keys)]
        + [_pklog_row("D", 999999999, 103)],
        "poll1.parquet",
    )
    sink = RangeCommitSink(str(tmp_path / "out"))
    on_batch = poll_each_batch(
        spark, [ORDERS_IDENTITY], lambda name: orders,
        lambda: spark.read.schema(PKLOG_DDL).parquet(log_dir),
        lambda: _txns(spark, []), 0, sink, lambda: NOW,
    )
    stream = changes_stream(spark, log_dir)
    ckpt = str(tmp_path / "ckpt")
    _drain_into(stream, on_batch, ckpt)

    name = ORDERS_IDENTITY.name
    assert sink.committed_keys(name) == [103]
    out = sink.read_committed(spark, name, keys=[103])
    got = {r["o_orderkey"]: r["_change_type"] for r in out.collect()}
    assert got[999999999] == "D"
    assert all(got[k] == "A" for k in some_keys)

    # second poll arrives -> new batch, its own range (103, 200]
    _write_poll(spark, log_dir, [_pklog_row("U", some_keys[0], 200)], "poll2.parquet")
    _drain_into(stream, on_batch, ckpt)
    assert sink.committed_keys(name) == [103, 200]
    second = sink.read_committed(spark, name, keys=[200]).collect()
    assert [(r["o_orderkey"], r["_transactionid"]) for r in second] == [(some_keys[0], 200)]


_T_UPPER = TableMapping(
    name="t_upper",
    mastertable="t",
    columnmappings=[ColumnMapping("id", '"L1"."id"'), ColumnMapping("val_u", 'upper("L1"."val")')],
    pkcolumns=["id"],
)


@pytest.mark.parametrize(
    "mappings,restart",
    [([MAPPING], False), ([MAPPING, _T_UPPER], False), ([MAPPING, _T_UPPER], True)],
    ids=["one_mapping", "two_mappings_one_table", "restart"],
)
def test_poll_trigger_holds_back_rows_above_open_writer(spark, tmp_path, mappings, restart):
    """The always-on path honours the safe watermark: with writer 11 open
    and txids 10 and 12 in the log, batch 0 commits (0, 10] only; txid 12
    waits until the writer commits and its own rows land, and then batch 1
    commits (10, 12]. Every committed range equals what batch poll()
    emits for the same (lo, hi]. ``restart``: batch 1 runs in a NEW query
    on the same checkpoint, started again from the initial from_txid —
    the per-mapping resume points keep its ranges from overlapping or
    skipping the first run's."""
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    src = _src(spark, [(1, "a"), (2, "b"), (3, "c")])
    open_writers = [11]
    sink = RangeCommitSink(str(tmp_path / "out"))

    def trigger():
        return poll_each_batch(
            spark, mappings, lambda name: src,
            lambda: spark.read.schema(PKLOG_DDL).parquet(log_dir),
            lambda: _txns(spark, open_writers), 0, sink, lambda: NOW,
        )

    stream = changes_stream(spark, log_dir, max_files_per_trigger=1)
    ckpt = str(tmp_path / "ckpt")
    on_batch = trigger()
    _write_poll(
        spark, log_dir,
        [_pklog_row("U", 1, 10, table="t"), _pklog_row("U", 3, 12, table="t")], "p0.parquet",
    )
    assert _drain_into(stream, on_batch, ckpt) == [0]
    for m in mappings:
        assert sink.committed_keys(m.name) == [10]

    open_writers.clear()  # writer 11 commits; its rows land in the log
    _write_poll(spark, log_dir, [_pklog_row("U", 2, 11, table="t")], "p1.parquet")
    assert _drain_into(stream, trigger() if restart else on_batch, ckpt) == [1]

    log = spark.read.schema(PKLOG_DDL).parquet(log_dir)
    for m in mappings:
        assert sink.committed_keys(m.name) == [10, 12]
        got = {
            hi: sorted(map(tuple, sink.read_committed(spark, m.name, keys=[hi]).collect()))
            for hi in (10, 12)
        }
        assert [sorted(r[2] for r in rows) for rows in got.values()] == [[1], [2, 3]]
        for lo, hi in [(0, 10), (10, 12)]:
            ref = RangeCommitSink(str(tmp_path / f"ref_{m.name}_{hi}"))
            assert poll(
                spark, [m], lambda name: src,
                log.filter(F.col("transactionid") <= hi), _txns(spark, []),
                lo, ref, NOW,
            ) == hi
            want = sorted(map(tuple, ref.read_committed(spark, m.name).collect()))
            assert got[hi] == want


def test_poll_trigger_aborted_writer_waits_for_a_timer_call(spark, tmp_path):
    """Pins a limit of the file trigger: writer 11 rolls back, so no log
    file lands and no micro-batch runs; txid 12, held back while the writer
    was open, stays unemitted. Calling the trigger function outside the
    stream, as a timer would, emits (10, 12]."""
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    src = _src(spark, [(1, "a"), (2, "b"), (3, "c")])
    open_writers = [11]
    sink = RangeCommitSink(str(tmp_path / "out"))
    on_batch = poll_each_batch(
        spark, [MAPPING], lambda name: src,
        lambda: spark.read.schema(PKLOG_DDL).parquet(log_dir),
        lambda: _txns(spark, open_writers), 0, sink, lambda: NOW,
    )
    calls = []

    def counted(df, batch_id):
        calls.append(batch_id)
        on_batch(df, batch_id)

    stream = changes_stream(spark, log_dir)
    ckpt = str(tmp_path / "ckpt")
    _write_poll(
        spark, log_dir,
        [_pklog_row("U", 1, 10, table="t"), _pklog_row("U", 3, 12, table="t")], "p0.parquet",
    )
    _drain_into(stream, counted, ckpt)
    assert calls == [0]
    assert sink.committed_keys(MAPPING.name) == [10]

    open_writers.clear()  # writer 11 rolls back: nothing lands in the log
    _drain_into(stream, counted, ckpt)
    assert calls == [0]
    assert sink.committed_keys(MAPPING.name) == [10]

    on_batch(None, -1)
    assert sink.committed_keys(MAPPING.name) == [10, 12]
    rows = sink.read_committed(spark, MAPPING.name, keys=[12]).collect()
    assert sorted(r[2] for r in rows) == [3]


def test_transactional_sink_replay_is_idempotent(spark, tmp_path):
    """E16: re-delivering a committed batch id must not double-write."""
    out_dir = str(tmp_path / "out")
    sink = transactional_sink(out_dir)
    df1 = spark.range(5).withColumnRenamed("id", "v")
    sink(df1, 0)
    first = json.load(open(os.path.join(out_dir, "_commits", "0.json")))
    # replay with different data — must be ignored
    sink(spark.range(50).withColumnRenamed("id", "v"), 0)
    again = json.load(open(os.path.join(out_dir, "_commits", "0.json")))
    assert first == again
    assert spark.read.parquet(os.path.join(out_dir, "batch_id=0")).count() == 5


def test_transactional_sink_portable_to_memory_topic_writer(spark, tmp_path):
    """E16 over the Writer seam: the same foreachBatch sink protocol runs
    against the Kafka-shaped memory writer — replay of a committed batch id
    leaves the topic untouched."""
    from s4hanaconnector_spark.poll import MemoryTopicWriter

    writer = MemoryTopicWriter()
    sink = transactional_sink(str(tmp_path / "out"), writer=writer)
    sink(spark.range(5).withColumnRenamed("id", "v"), 0)
    assert len(writer.topics["batch_id=0"]) == 5
    first = json.load(open(str(tmp_path / "out" / "_commits" / "0.json")))
    assert first["rows"] == 5
    # replayed batch id with different data — must be ignored
    sink(spark.range(50).withColumnRenamed("id", "v"), 0)
    assert len(writer.topics["batch_id=0"]) == 5


def _event_row(uid, ts, v=1.0):
    return Row(user_id=uid, ts=ts, value=v)


def _single_file(spark, df, directory, name):
    import shutil
    import tempfile

    os.makedirs(directory, exist_ok=True)
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "w")
        df.coalesce(1).write.parquet(out)
        part = glob.glob(os.path.join(out, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(directory, name))


def _event_stream(spark, tmp_path, rows, name="events"):
    d = str(tmp_path / name)
    schema = "user_id bigint, ts timestamp, value double"
    _single_file(spark, spark.createDataFrame(rows, schema), d, "f1.parquet")
    return spark.readStream.schema(schema).parquet(d)


def _run_to_memory(spark, df, name, mode="append"):
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_window_agg(spark, tmp_path):
    rows = [
        _event_row(1, T0 + datetime.timedelta(minutes=m)) for m in [0, 1, 2, 11, 12, 25]
    ]
    s = _event_stream(spark, tmp_path, rows)
    agg = tumbling_window_agg(
        s, "ts", "10 minutes", [], [F.count(F.lit(1)).alias("n")], watermark="5 minutes"
    )
    out = _run_to_memory(spark, agg, "tumb", mode="complete")
    got = {r["window_start"].minute: r["n"] for r in out.collect()}
    assert got == {0: 3, 10: 2, 20: 1}


def test_sliding_window_agg(spark, tmp_path):
    rows = [_event_row(1, T0 + datetime.timedelta(minutes=5))]
    s = _event_stream(spark, tmp_path, rows, "ev2")
    agg = sliding_window_agg(
        s, "ts", "10 minutes", "5 minutes", [], [F.count(F.lit(1)).alias("n")]
    )
    out = _run_to_memory(spark, agg, "slide", mode="complete")
    # one event at minute 5 lands in windows [0,10) and [5,15)
    starts = sorted(r["window_start"].minute for r in out.collect())
    assert starts == [0, 5]


def test_session_window_agg(spark, tmp_path):
    rows = [
        _event_row(1, T0),
        _event_row(1, T0 + datetime.timedelta(minutes=2)),
        _event_row(1, T0 + datetime.timedelta(minutes=40)),  # new session
        _event_row(2, T0),
    ]
    s = _event_stream(spark, tmp_path, rows, "ev3")
    agg = session_window_agg(
        s, "ts", "30 minutes", ["user_id"], [F.count(F.lit(1)).alias("n")]
    )
    out = _run_to_memory(spark, agg, "sess", mode="complete")
    got = sorted((r["user_id"], r["n"]) for r in out.collect())
    assert got == [(1, 1), (1, 2), (2, 1)]


def test_stateful_dedup_across_batches(spark, tmp_path):
    """E25: duplicate keys in later micro-batches are dropped while inside
    the watermark TTL."""
    d = str(tmp_path / "dedup_src")
    schema = "user_id bigint, ts timestamp, value double"
    _single_file(
        spark, spark.createDataFrame([_event_row(1, T0), _event_row(2, T0)], schema), d, "b1.parquet"
    )

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    deduped = stateful_dedup(stream, ["user_id"], "ts", "1 hour")
    ckpt = str(tmp_path / "dedup_ckpt")
    emitted: dict[int, set] = {}

    def collect(batch_df, batch_id):
        emitted.setdefault(batch_id, set()).update(
            r["user_id"] for r in batch_df.collect()
        )

    def run():
        q = (
            deduped.writeStream.outputMode("append")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    assert emitted.get(0) == {1, 2}

    # duplicate of user 1 + new user 3 arrive in a later batch; the state
    # store (restored from checkpoint) remembers user 1
    _single_file(
        spark,
        spark.createDataFrame(
            [_event_row(1, T0 + datetime.timedelta(minutes=5)), _event_row(3, T0)], schema
        ),
        d,
        "b2.parquet",
    )
    run()
    later = set().union(*(v for k, v in emitted.items() if k > 0)) if len(emitted) > 1 else set()
    assert 3 in later and 1 not in later


def test_stateful_latest_by_key_suppresses_stale(spark, tmp_path):
    """E25 custom path (applyInPandasWithState): per-key max-ord frontier
    advances across micro-batches; stale or duplicate ords are suppressed;
    equal-key rows within one batch collapse to the single latest."""
    from s4hanaconnector_spark.streaming import stateful_latest_by_key

    d = str(tmp_path / "latest_src")
    schema = "pk bigint, transactionid bigint, payload string"

    def rows(*tups):
        return spark.createDataFrame([Row(pk=p, transactionid=tx, payload=s) for p, tx, s in tups], schema)

    _single_file(spark, rows((1, 100, "a"), (1, 101, "b"), (2, 50, "x")), d, "b1.parquet")

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    latest = stateful_latest_by_key(stream, ["pk"], "transactionid")
    ckpt = str(tmp_path / "latest_ckpt")
    emitted: list[tuple] = []

    def collect(batch_df, batch_id):
        emitted.extend((r["pk"], r["transactionid"], r["payload"]) for r in batch_df.collect())

    def run():
        q = (
            latest.writeStream.outputMode("update")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    assert sorted(emitted) == [(1, 101, "b"), (2, 50, "x")]

    # batch 2: pk 1 advances (emit), pk 2 replays a stale txid (silent),
    # pk 3 is new (emit)
    emitted.clear()
    _single_file(spark, rows((1, 150, "c"), (2, 40, "stale"), (3, 7, "n")), d, "b2.parquet")
    run()
    assert sorted(emitted) == [(1, 150, "c"), (3, 7, "n")]


def test_changes_stream_through_stateful_frontier(spark, tmp_path):
    """E17 ∘ E25 ∘ E16: the PKLOG file stream feeds the applyInPandasWithState
    frontier, so across polls each PK emits only when its txid advances, and
    the surviving changes land exactly once in the transactional sink."""
    from s4hanaconnector_spark.streaming import (
        changes_stream,
        stateful_latest_by_key,
        transactional_sink,
    )

    log_dir = str(tmp_path / "pklog")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(log_dir)

    _write_poll(
        spark, log_dir,
        [_pklog_row("U", 1, 100), _pklog_row("U", 1, 105), _pklog_row("U", 2, 101)],
        "poll1.parquet",
    )
    stream = changes_stream(spark, log_dir, max_files_per_trigger=1)
    latest = stateful_latest_by_key(stream, ["table_name", "pk1"], "transactionid")
    sink = transactional_sink(out_dir)

    def run():
        q = (
            latest.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    batch0 = spark.read.parquet(os.path.join(out_dir, "batch_id=0"))
    got0 = {(r["pk1"], r["transactionid"]) for r in batch0.collect()}
    assert got0 == {("1", 105), ("2", 101)}  # per-PK latest only

    # poll 2: pk1 stale replay (silent), pk2 advances, pk3 new
    _write_poll(
        spark, log_dir,
        [_pklog_row("U", 1, 90), _pklog_row("U", 2, 130), _pklog_row("I", 3, 110)],
        "poll2.parquet",
    )
    run()
    later = [
        p for p in glob.glob(os.path.join(out_dir, "batch_id=*"))
        if not p.endswith("batch_id=0")
    ]
    got_later = set()
    for p in later:
        got_later |= {
            (r["pk1"], r["transactionid"]) for r in spark.read.parquet(p).collect()
        }
    assert got_later == {("2", 130), ("3", 110)}  # stale pk1 suppressed


def test_txn_latency_listener_alerts_per_batch(spark, tmp_path):
    """O22 streaming path: a StreamingQueryListener re-evaluates the
    open-transaction frontier after each micro-batch and classifies it with
    the reference's 5 s / 60 s thresholds (S4HanaProducer.java:339-358)."""
    import time

    from s4hanaconnector_spark.streaming.core import make_txn_latency_listener

    now = datetime.datetime(2026, 1, 1, 12, 0, 0)
    oldest = now - datetime.timedelta(seconds=90)  # open for 90 s -> warn
    alerts = []
    listener = make_txn_latency_listener(
        lambda: oldest, lambda: now, lambda lvl, since: alerts.append((lvl, since))
    )
    spark.streams.addListener(listener)
    try:
        rows = [_event_row(1, now)]
        out = _event_stream(spark, tmp_path, rows).groupBy("user_id").count()
        _run_to_memory(spark, out, "txn_latency_probe", mode="complete")
        # listener events are delivered asynchronously on a separate thread
        deadline = time.time() + 30
        while not alerts and time.time() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert alerts and alerts[0] == ("warn", oldest)


def test_stream_stream_join_cut_forces_cross_batch_pairs(spark, sf_dir):
    """The chronological poll split of streaming_stream_stream_join must put
    at least one (error, click) pair on OPPOSITE sides of the cut —
    otherwise the query would pass without ever using the buffered join
    state. Verified on the batch side from the same fixture arithmetic."""
    from s4hanaconnector_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type"
    )
    # mirror the query's cut rule: ts of the first error with a
    # strictly-later in-window click
    e_b = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("bu"), F.col("ts").alias("e_ts")
    )
    c_b = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("bu"), F.col("ts").alias("c_ts")
    )
    first = (
        e_b.join(c_b, "bu")
        .filter(
            (F.col("c_ts") > F.col("e_ts"))
            & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 12 hours"))
        )
        .agg(F.min(F.struct("e_ts", "c_ts")).alias("s"))
        .collect()[0]["s"]
    )
    assert first is not None
    mid = first["e_ts"]
    err = ev.filter((F.col("event_type") == "error") & (F.col("ts") <= F.lit(mid)))
    clk = ev.filter((F.col("event_type") == "click") & (F.col("ts") > F.lit(mid)))
    straddlers = (
        err.alias("e")
        .join(clk.alias("c"), F.col("e.user_id") == F.col("c.user_id"))
        .filter(
            (F.col("c.ts") >= F.col("e.ts"))
            & (F.col("c.ts") <= F.col("e.ts") + F.expr("INTERVAL 12 hours"))
        )
        .count()
    )
    assert straddlers > 0


def test_scd2_feed_has_cross_batch_version_chains(spark, sf_dir):
    """streaming_scd2_history's txid split must leave at least one key with
    changes in BOTH polls, so closing prior open versions across the batch
    boundary is actually exercised."""
    from s4hanaconnector_spark.catalog import load_table
    from s4hanaconnector_spark.sources.pklog import synthetic_pklog

    pklog = synthetic_pklog(load_table(spark, sf_dir, "orders"))
    mid = (1000 + 1060) // 2
    lo = pklog.filter(F.col("transactionid") <= mid).select("pk1").distinct()
    hi = pklog.filter(F.col("transactionid") > mid).select("pk1").distinct()
    assert lo.join(hi, "pk1", "semi").count() > 0


def test_progress_metrics_listener_captures_throughput(spark, tmp_path):
    """The monitoring analogue of the reference's per-poll row-count log
    lines: a real streaming query's progress events land as one metrics
    record per micro-batch with the input row count."""
    import time as _time

    from s4hanaconnector_spark.streaming.core import (
        make_progress_metrics_listener,
        run_available_now,
    )

    feed = tmp_path / "mfeed"
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id bigint, v string").coalesce(
        1
    ).write.parquet(str(feed / "p0"))
    metrics: list = []
    listener = make_progress_metrics_listener(metrics)
    spark.streams.addListener(listener)
    try:
        stream = spark.readStream.schema("id bigint, v string").parquet(str(feed / "p*"))
        out = stream.groupBy("v").count()
        run_available_now(out, "metrics_probe", output_mode="complete")
        deadline = _time.time() + 30
        while not metrics and _time.time() < deadline:
            _time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert metrics, "no progress events captured"
    assert sum(m["num_input_rows"] for m in metrics) == 3
    assert all("batch_id" in m and m["sources"] for m in metrics)
    # the documented contract (E129): per-source OFFSETS, not just a label —
    # the reference's per-poll txid-range monitoring needs log positions
    data_batches = [m for m in metrics if m["num_input_rows"] > 0]
    assert all(
        "end_offset" in s and "start_offset" in s
        for m in data_batches
        for s in m["sources"]
    )
    assert any(
        s["end_offset"] is not None for m in data_batches for s in m["sources"]
    )


def test_stateful_latest_by_key_ties_mirror_batch_path(spark, tmp_path):
    """Same-transactionid ties resolve exactly like the batch path's
    latest_per_pk: transaction_seq is the true within-transaction order
    (insert seq=1 + update seq=2 at one txid -> the UPDATE wins, on any
    Arrow chunk order), and a malformed feed that splits one transaction
    across micro-batches still emits the higher-seq row instead of
    silently suppressing it behind a max-ord-only frontier."""
    from s4hanaconnector_spark.streaming import stateful_latest_by_key

    d = str(tmp_path / "tie_src")
    schema = (
        "pk bigint, transactionid bigint, transaction_seq int, "
        "change_type string, payload string"
    )

    def rows(*tups):
        return spark.createDataFrame(
            [
                Row(pk=p, transactionid=tx, transaction_seq=sq, change_type=ct, payload=s)
                for p, tx, sq, ct, s in tups
            ],
            schema,
        )

    # one batch: insert (seq 1) + update (seq 2) for pk 1 at the SAME txid,
    # fed in an order where the insert comes LAST (tail(1) would pick it)
    _single_file(
        spark,
        rows((1, 100, 2, "U", "update"), (1, 100, 1, "I", "insert")),
        d, "b1.parquet",
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    latest = stateful_latest_by_key(stream, ["pk"], "transactionid")
    ckpt = str(tmp_path / "tie_ckpt")
    emitted: list[tuple] = []

    def collect(batch_df, batch_id):
        emitted.extend(
            (r["pk"], r["transactionid"], r["transaction_seq"], r["payload"])
            for r in batch_df.collect()
        )

    def run():
        q = (
            latest.writeStream.outputMode("update")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    assert emitted == [(1, 100, 2, "update")]  # seq-2 update wins the tie

    # malformed split: a LATER batch carries the same txid with higher seq —
    # the frontier is (ord, seq, rank), so it advances and emits
    emitted.clear()
    _single_file(spark, rows((1, 100, 3, "D", "late-delete")), d, "b2.parquet")
    run()
    assert emitted == [(1, 100, 3, "late-delete")]

    # and a true replay (same tuple) stays silent
    emitted.clear()
    _single_file(spark, rows((1, 100, 3, "D", "replay")), d, "b3.parquet")
    run()
    assert emitted == []


# ---------------------------------------------------------------------------
# State-size bound proofs (SURVEY §7 risk: "streaming state TTL'd, never
# unbounded") — read the engine's OWN state-store metrics across >=10 polls
# of fully-churning keys and assert the row count plateaus instead of
# growing with cumulative key volume.
# ---------------------------------------------------------------------------


def _state_totals(progresses, min_batches):
    """Per-batch state-store row totals from recentProgress dicts (data
    batches only — availableNow can interleave empty bookkeeping batches)."""
    totals = [
        sum(so["numRowsTotal"] for so in p["stateOperators"])
        for p in progresses
        if p.get("stateOperators") and p.get("numInputRows", 0) > 0
    ]
    assert len(totals) >= min_batches, f"only {len(totals)} data batches: {totals}"
    return totals


# Both plateau proofs run under BOTH state-store providers (r6 VERDICT #4):
# the default HDFS-backed store holds keyed state on-heap per executor; at
# 100 TB keyed-state scale the production provider is RocksDB (off-heap,
# spillable), and an eviction bound proven only on-heap could silently rely
# on provider behavior. rocksdbjni ships in the PySpark distribution.
STATE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


@contextmanager
def state_provider(spark, provider: str):
    """Run a streaming query under an explicit state-store provider; always
    restore the prior conf (provider is read at query START, so setting it
    around .start() is sufficient and leaks nothing)."""
    prior = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(_PROVIDER_KEY, STATE_PROVIDERS[provider])
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prior)


@pytest.mark.parametrize("provider", list(STATE_PROVIDERS))
def test_stateful_dedup_state_plateaus_under_churn(spark, tmp_path, provider):
    """dropDuplicatesWithinWatermark: 12 polls x 200 brand-new keys each,
    event time advancing 1 h/poll, TTL 30 min. Watermark eviction must hold
    live state to ~2 polls' worth of keys (the 1-batch watermark lag), not
    the 2400 cumulative keys — the bound that keeps a 24/7 dedup stream at
    100 TB from accreting every key it has ever seen."""
    d = str(tmp_path / "churn_dedup_src")
    os.makedirs(d)
    schema = "user_id bigint, ts timestamp, value double"
    n_polls, keys = 12, 200
    for poll in range(n_polls):
        rows = [
            Row(user_id=poll * keys + i, ts=T0 + datetime.timedelta(hours=poll), value=1.0)
            for i in range(keys)
        ]
        _single_file(spark, spark.createDataFrame(rows, schema), d, f"b{poll:03d}.parquet")

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    deduped = stateful_dedup(stream, ["user_id"], "ts", "30 minutes")
    with state_provider(spark, provider):
        q = (
            deduped.writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: df.count())
            .option("checkpointLocation", str(tmp_path / "churn_dedup_ckpt"))
            .start()
        )
        q.processAllAvailable()
        progresses = list(q.recentProgress)
        q.stop()
    totals = _state_totals(progresses, min_batches=10)
    assert max(totals) <= 3 * keys, f"state not bounded: {totals}"
    assert totals[-1] <= 3 * keys
    # sanity: the churn really was cumulative-scale
    assert n_polls * keys > 3 * max(totals)

@pytest.mark.parametrize("provider", list(STATE_PROVIDERS))
def test_stateful_latest_by_key_ttl_state_plateaus(spark, tmp_path, provider):
    """applyInPandasWithState frontier with processing-time TTL: 10 polls x
    100 brand-new keys. Each poll's keys time out (ttl_ms=1) before the
    next poll runs, so hasTimedOut -> state.remove() must keep live state
    to ~1-2 polls' worth — the PKLOG-retention analogue actually observed
    in the state store's own numRowsTotal, not just asserted semantically.

    Drive protocol: with a processing-time timeout the engine schedules
    state-cleanup batches ASAP forever, so BOTH processAllAvailable and
    availableNow spin on an endless empty-batch tail (observed live; the
    operator docstring's warning). A listener therefore captures every
    progress (recentProgress only keeps the last 100 — the empty tail
    would evict the data batches), and the test stops the query itself
    once all data batches have been observed."""
    import time

    from pyspark.sql.streaming.listener import StreamingQueryListener

    from s4hanaconnector_spark.streaming import stateful_latest_by_key

    d = str(tmp_path / "churn_latest_src")
    os.makedirs(d)
    schema = "pk bigint, transactionid bigint, payload string"
    n_polls, keys = 10, 100
    for poll in range(n_polls):
        rows = [
            Row(pk=poll * keys + i, transactionid=poll + 1, payload="x")
            for i in range(keys)
        ]
        _single_file(spark, spark.createDataFrame(rows, schema), d, f"b{poll:03d}.parquet")

    captured: list[dict] = []

    class StateCapture(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            captured.append(
                {
                    "numInputRows": p.numInputRows,
                    "stateRows": [s.numRowsTotal for s in p.stateOperators],
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = StateCapture()
    spark.streams.addListener(listener)
    try:
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
        )
        latest = stateful_latest_by_key(stream, ["pk"], "transactionid", ttl_ms=1)
        with state_provider(spark, provider):
            q = (
                latest.writeStream.outputMode("update")
                .foreachBatch(lambda df, bid: df.count())
                .option("checkpointLocation", str(tmp_path / "churn_latest_ckpt"))
                .start()
            )
        deadline = time.monotonic() + 240
        while time.monotonic() < deadline:
            if sum(1 for p in captured if p["numInputRows"] > 0) >= n_polls:
                break
            time.sleep(1.0)
        q.stop()
    finally:
        spark.streams.removeListener(listener)
    totals = [sum(p["stateRows"]) for p in captured if p["numInputRows"] > 0]
    assert len(totals) >= n_polls, f"only {len(totals)} data batches: {totals}"
    assert max(totals) <= 3 * keys, f"state not bounded: {totals}"
    assert totals[-1] <= 3 * keys
    assert n_polls * keys > 3 * max(totals)
