"""Streaming operator implementations.

Scale notes: every stateful operator here carries a watermark so state is
TTL'd, never unbounded (SURVEY §7 risk list). State lives in the HDFS/RocksDB
state store keyed by the groupBy columns — partitioned by key hash, so a
1000-executor cluster shards it linearly. ``foreachBatch`` output is made
idempotent with a commit log, because Spark guarantees at-least-once delivery
of a batch to the sink function.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

PKLOG_DDL = (
    "change_ts timestamp, schema_name string, change_type string, "
    "pk1 string, pk2 string, pk3 string, pk4 string, pk5 string, pk6 string, "
    "transactionid bigint, transaction_seq int, table_name string"
)


def changes_stream(
    spark: SparkSession,
    log_dir: str,
    schema: str | T.StructType = PKLOG_DDL,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """E17: a change feed as a streaming DataFrame — file-based source where
    each dropped parquet file is one producer poll's worth of PKLOG rows.
    ``maxFilesPerTrigger`` is the streaming analogue of the reference's
    per-poll txid range: it bounds how much log one micro-batch ingests."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(log_dir)


# ---------------------------------------------------------------------------
# E16 — transactional sink: foreachBatch + idempotent commit log
# ---------------------------------------------------------------------------


class transactional_sink:
    """Exactly-once-per-batch semantics over an at-least-once channel,
    mirroring the reference's delta transactions: a batch is (1) written to
    ``out_dir/batch_id=N/``, (2) recorded in ``out_dir/_commits/N.json``.
    A replayed batch id that is already committed is skipped — the same
    "this txid range was already emitted" idempotency the reference gets
    from tagging Kafka transactions with the hi-watermark
    (beginDeltaTransaction(hi, ...), S4HanaProducer.java:424).

    Use as: ``stream.writeStream.foreachBatch(transactional_sink(out))``.

    Delivery goes through the same pluggable :class:`~s4hanaconnector_spark.
    poll.Writer` seam as the batch sink (parquet by default; a Kafka-shaped
    writer slots in without touching the commit protocol) — the marker
    log stays with the sink, exactly as the reference keeps its txid tags
    on the Kafka transaction rather than in the payload.
    """

    def __init__(
        self,
        out_dir: str,
        transform: Callable[[DataFrame, int], DataFrame] | None = None,
        writer=None,
    ) -> None:
        from s4hanaconnector_spark.poll import CommitLog, ParquetWriter

        self.out_dir = out_dir
        self.transform = transform
        self.writer = writer if writer is not None else ParquetWriter(out_dir)
        # marker protocol shared with the batch RangeCommitSink — one
        # implementation of the crash-window contract (poll.CommitLog)
        self.log = CommitLog(out_dir)

    def committed(self, batch_id: int) -> bool:
        return self.log.committed(str(batch_id))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committed(batch_id):
            return  # replay of an already-committed transaction: no-op
        df = self.transform(batch_df, batch_id) if self.transform else batch_df
        n = self.writer.write(f"batch_id={batch_id}", df)
        self.log.commit(str(batch_id), {"batch_id": batch_id, "rows": n})


# ---------------------------------------------------------------------------
# The always-on CDC path: batch poll() under a streaming trigger
# ---------------------------------------------------------------------------


def poll_each_batch(
    spark: SparkSession,
    mappings: list,
    load_source: Callable[[str], DataFrame],
    pklog: Callable[[], DataFrame],
    transactions: Callable[[], DataFrame],
    from_txid: int,
    sink,
    now_ts: Callable[[], str],
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function that runs :func:`~s4hanaconnector_spark.
    poll.poll` once per micro-batch; the micro-batch itself is only the
    trigger and its rows are never read.

    Each call re-reads the change log and the transaction monitor through
    the ``pklog`` / ``transactions`` thunks (a parquet DataFrame built once
    keeps its file listing and would never see a new file) and the clock
    through ``now_ts``, then emits every impacted mapping's delta over
    ``(resume, watermark]`` into ``sink`` (a ``RangeCommitSink``). The
    watermark sits below the oldest in-flight writer
    (S4HanaProducer.java:317-368), so rows above an open transaction wait
    for a later batch. The returned ``hi`` becomes the next batch's resume
    point.

    Only a new log file starts a micro-batch. A writer that commits rows
    lands a file and so triggers the batch that emits what it held back.
    A writer that rolls back, writes only to tables without log rows, or
    ages out of the staleness window lands nothing, and the rows it held
    back stay unemitted until some later file arrives. The reference polls
    on a timer whether or not new rows exist; to match it, also call the
    returned function on a timer (``on_batch(None, -1)``), outside the
    stream.

    Every call re-reads the whole log: the watermark's max and the
    impacted-table scan cost grow with the log, not with the new file.

    The caller owns the resume point exactly as with batch ``poll()``: a
    restarted query passes its initial ``from_txid`` again. That is safe
    because each mapping resumes from its own last committed range in the
    sink, so a replayed or restarted batch neither overlaps a committed
    range nor skips one.

    Use as ``stream.writeStream.foreachBatch(poll_each_batch(...))``."""
    from s4hanaconnector_spark.poll import poll

    resume = from_txid

    def on_batch(_batch_df: DataFrame, _batch_id: int) -> None:
        nonlocal resume
        resume = poll(
            spark, mappings, load_source, pklog(), transactions(), resume, sink, now_ts()
        )

    return on_batch


# ---------------------------------------------------------------------------
# E24 — windowed aggregations
# ---------------------------------------------------------------------------


def tumbling_window_agg(
    stream: DataFrame,
    ts_col: str,
    window: str,
    keys: list[str],
    aggs: list,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling event-time windows with late-data watermark."""
    out = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), *keys)
        .agg(*aggs)
    )
    return (
        out.withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def sliding_window_agg(
    stream: DataFrame,
    ts_col: str,
    window: str,
    slide: str,
    keys: list[str],
    aggs: list,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding windows — each event lands in window/slide buckets."""
    out = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide), *keys)
        .agg(*aggs)
    )
    return (
        out.withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def session_window_agg(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows (gap-based) — state closes once the watermark passes
    session end + gap, so memory is bounded by active sessions only."""
    out = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), *keys)
        .agg(*aggs)
    )
    return (
        out.withColumn("session_start", F.col("session_window.start"))
        .withColumn("session_end", F.col("session_window.end"))
        .drop("session_window")
    )


# ---------------------------------------------------------------------------
# E25/E26 — stateful dedup with TTL
# ---------------------------------------------------------------------------


def stateful_dedup(stream: DataFrame, keys: list[str], ts_col: str, ttl: str) -> DataFrame:
    """E25: drop duplicate keys across micro-batches with watermark-bounded
    state (``dropDuplicatesWithinWatermark``): a key is remembered only
    until the watermark passes its event time + ttl — the streaming
    equivalent of the reference's 7-day PKLOG retention (state that old can
    no longer produce a duplicate and is dropped)."""
    return stream.withWatermark(ts_col, ttl).dropDuplicatesWithinWatermark(keys)


# ---------------------------------------------------------------------------
# E25 custom-stateful path — applyInPandasWithState
# ---------------------------------------------------------------------------


def stateful_latest_by_key(
    stream: DataFrame,
    keys: list[str],
    ord_col: str = "transactionid",
    ttl_ms: int | None = None,
    seq_col: str = "transaction_seq",
    change_col: str = "change_type",
) -> DataFrame:
    """E5 (per-PK latest-only dedup, O11) as a CUSTOM stateful streaming
    operator: across micro-batches, remember the highest ``ord_col`` seen per
    key and emit a row only when a batch advances it — the streaming form of
    the reference's "one delta row per PK per poll" contract, where a PK whose
    latest change was already emitted stays silent on replayed/stale changes.

    Built on ``applyInPandasWithState`` (Arrow-batched per-group pandas with a
    typed state struct) because no built-in expresses "max-so-far with
    suppression": ``dropDuplicatesWithinWatermark`` forgets VALUES, and window
    aggs emit per window, not per advance. State is one struct per live key,
    hash-partitioned across executors.

    ``ttl_ms`` enables the PKLOG-retention analogue (a key silent for the
    retention window cannot produce a late duplicate, so its state drops) via
    processing-time timeout. With a TTL the engine schedules extra
    state-cleanup triggers between data batches — normal for an always-on
    query, but ``processAllAvailable`` never sees an idle trigger, so
    drive-to-completion tests must use the default (no timeout).

    Tie-breaking MIRRORS the batch path's ``latest_per_pk``
    (operators/cdc.py): a key carrying two rows at the same ``ord_col``
    (insert+update in one transaction) resolves by ``seq_col`` (the true
    within-transaction order) and then by delete-wins change-type rank
    (D=3 > U=2 > I=1 > other=0) — both columns used only when present in
    the schema — with a final total order over all stringified columns, so
    the surviving row is identical on any rerun, Arrow chunking, or engine
    (NOT the arrival-order ``tail(1)`` pick, which varied with shuffle
    block order). The state remembers the full (ord, seq, rank) frontier:
    a well-formed feed never splits one transaction across polls (a poll
    is a txid RANGE), but if a malformed feed does, the higher-seq row
    still advances the frontier and emits instead of being silently
    suppressed by a max-ord-only state. Arrow chunks fold incrementally —
    a hot key's micro-batch is never concatenated into one pandas frame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = stream.schema
    state_schema = T.StructType(
        [
            T.StructField("max_ord", T.LongType()),
            T.StructField("max_seq", T.LongType()),
            T.StructField("max_rank", T.LongType()),
        ]
    )
    col_order = [f.name for f in out_schema.fields]
    has_seq = seq_col in col_order
    has_ct = change_col in col_order
    ct_rank = {"D": 3, "U": 2, "I": 1}

    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        best_key = None  # (ord, seq, rank, row_string)
        best_row = None
        for pdf in pdfs:  # fold chunk-by-chunk: O(chunk) memory, not O(batch)
            if pdf.empty:
                continue
            o = pdf[ord_col].astype("int64")
            s = (
                pdf[seq_col].fillna(0).astype("int64")
                if has_seq
                else pd.Series(0, index=pdf.index)
            )
            r = (
                pdf[change_col].map(ct_rank).fillna(0).astype("int64")
                if has_ct
                else pd.Series(0, index=pdf.index)
            )
            tb = pdf.astype(str).agg("\x1f".join, axis=1)
            ranked = pd.DataFrame({"o": o, "s": s, "r": r, "t": tb})
            idx = ranked.sort_values(["o", "s", "r", "t"]).index[-1]
            cand = (int(o[idx]), int(s[idx]), int(r[idx]), tb[idx])
            if best_key is None or cand > best_key:
                best_key, best_row = cand, pdf.loc[[idx]]
        if best_row is None:
            return
        prev = tuple(state.get) if state.exists else None
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        cur = best_key[:3]
        if prev is not None and cur <= prev:
            return  # stale replay: the emitted frontier already passed it
        state.update(cur)
        yield best_row[col_order]

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "update",
        timeout,
    )


# ---------------------------------------------------------------------------
# O22 (streaming path) — open-transaction latency alerting
# ---------------------------------------------------------------------------


def make_txn_latency_listener(
    oldest_start_time_fn: Callable[[], object],
    now_fn: Callable[[], object],
    on_alert: Callable[[str, object], None],
):
    """O22 on the always-on path: a ``StreamingQueryListener`` that, after
    every micro-batch progress event, re-reads the open-transaction frontier
    and classifies its age with the reference's 5 s / 60 s thresholds
    (S4HanaProducer.java:339-358). Register with
    ``spark.streams.addListener(...)``.

    ``oldest_start_time_fn`` supplies the current oldest in-flight
    ``start_time`` (None when no writer is open) — a cheap 1-row aggregate
    against the transaction monitor, evaluated on the listener thread, never
    inside the micro-batch. ``now_fn`` supplies the matching clock so tests
    can pin both sides. Alerts fire as ``on_alert(level, oldest_start_time)``
    for 'info'/'warn' only, mirroring the reference's operation-log lines.
    """
    from pyspark.sql.streaming.listener import StreamingQueryListener

    from s4hanaconnector_spark.operators.cdc import classify_txn_latency

    class TxnLatencyListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            oldest = oldest_start_time_fn()
            level = classify_txn_latency(oldest, now_fn())
            if level != "ok":
                on_alert(level, oldest)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return TxnLatencyListener()


_SINK_SEQ = itertools.count()


def run_available_now(
    out: DataFrame, name: str, output_mode: str = "complete", timeout_sec: float = 300.0
) -> DataFrame:
    """Run a streaming DataFrame to completion over the data available NOW
    and return the materialized result (E24 batch-replay mode).

    ``Trigger.AvailableNow`` processes the backlog in rate-limited
    micro-batches THROUGH the streaming engine (state store, watermarks,
    exactly-once sink protocol) and then stops — the same plan that runs
    24/7 in production is verifiable against a batch oracle. The memory
    sink holds only the AGGREGATED result (windows, not events), so
    driver memory is bounded by |windows| — never corpus-sized."""
    sink = f"{name}_{next(_SINK_SEQ)}"
    drain(
        out.writeStream.format("memory").queryName(sink).outputMode(output_mode),
        timeout_sec,
    )
    return out.sparkSession.table(sink)


def drain(writer: DataStreamWriter, timeout_sec: float = 300.0) -> StreamingQuery:
    """Start ``writer`` with ``Trigger.AvailableNow``, wait until it has
    processed everything available at start, and return the stopped query
    (its ``recentProgress`` stays readable). A query still running after
    ``timeout_sec`` is stopped and raises ``TimeoutError``; a query that
    failed re-raises its error."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"streaming query {q.name or q.id} still running after {timeout_sec}s"
            )
    finally:
        if q.isActive:
            q.stop()
    return q


def make_progress_metrics_listener(sink: list):
    """Throughput observability for the always-on path — the numbers the
    reference's monitoring servlets expose per producer (rows produced,
    rate; S4HanaProducer.java:443-447 logs them per poll) captured from the
    engine's own progress events: one record per micro-batch with batch id,
    input row count, processing rate and per-source offsets. Append-only
    into ``sink`` (any list-like; swap for a metrics client in production).
    Register with ``spark.streams.addListener(...)``; listener callbacks
    run on a separate thread and never touch the micro-batch path."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class ProgressMetricsListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            sink.append(
                {
                    "query_id": str(p.id),
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "input_rows_per_second": p.inputRowsPerSecond,
                    "processed_rows_per_second": p.processedRowsPerSecond,
                    "sources": [
                        {
                            "description": s.description,
                            "start_offset": s.startOffset,
                            "end_offset": s.endOffset,
                            "num_input_rows": s.numInputRows,
                        }
                        for s in p.sources
                    ],
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressMetricsListener()
