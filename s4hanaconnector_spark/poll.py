"""The poll lifecycle — the reference's main entry point
(S4HanaProducer.poll, S4HanaProducer.java:391-469) as one explicit batch
orchestration over the engine's operators:

  1. watermark (O20): highest SAFE transaction id — below the oldest
     in-flight writer, so commit order is never violated
  2. short-circuit: lo == hi means nothing to do (:396-398)
  3. impacted tables (O23): DISTINCT table_name in (lo, hi] — bounded by
     table count, so collecting it driver-side is safe at any scale
  4. per impacted mapping: the delta query (O10-O14) over (lo, hi]; the
     impacted mappings are emitted concurrently, one unit (resume point,
     delta, write, commit) per mapping
  5. transactional emit (O26): each (mapping, hi) range lands exactly once —
     a replayed poll with an already-committed range is a no-op, the same
     idempotency the reference gets from tagging Kafka transactions with the
     hi watermark (beginDeltaTransaction(hi, ...), :424)
  6. return hi as the new resume point (:456)

Streaming is the same composition under foreachBatch (streaming/core.py);
this batch driver exists because the reference's contract IS a pull-based
poll loop, and because backfills/replays are batch invocations of exactly
this function.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from s4hanaconnector_spark.mapping import TableMapping
from s4hanaconnector_spark.operators.cdc import (
    cdc_delta,
    classify_txn_latency,
    impacted_tables,
    watermark,
)
from s4hanaconnector_spark.operators.relational import observed


class Writer:
    """The delivery seam of the transactional sinks (O26): durably publish
    one range/batch of rows under a key and report how many rows landed.

    The reference's delivery target is a Kafka topic inside a transaction
    (S4HanaProducer.java:442,619-625); this engine ships a parquet
    implementation, but the SINK protocol (write data, then commit a
    marker; replays of committed keys skip; uncommitted data is invisible/
    replaced) does not care what "durably publish" means — any
    implementation with overwrite-on-replay semantics slots in. Implement
    ``write(key, df) -> rows_landed`` where a re-``write`` of the same key
    REPLACES any earlier, uncommitted delivery for that key (Kafka: abort
    the old txn and republish; files: mode="overwrite").

    Concurrency: ``poll()`` emits its impacted mappings side by side, so
    ``write()`` may be called concurrently for DISTINCT keys within one
    poll (never twice at once for the same key). An implementation must
    keep per-key state apart — shared mutable state needs its own lock.
    """

    def write(self, key: str, df: DataFrame) -> int:  # pragma: no cover
        raise NotImplementedError


class ParquetWriter(Writer):
    """Default delivery: one parquet directory per key under ``out_dir``.
    Rows are counted by an observed metric DURING the write job, so the
    count is of the rows that landed and costs no second job. Safe for
    concurrent keys: each call runs its own Spark job into its own
    directory, with its own ``Observation``."""

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir

    def write(self, key: str, df: DataFrame) -> int:
        df, obs = observed(df, f"rows:{key}", {"n": F.count(F.lit(1))})
        df.write.mode("overwrite").parquet(os.path.join(self.out_dir, key))
        return obs.get["n"]


class MemoryTopicWriter(Writer):
    """Kafka-SHAPED test double: each key is a "transaction" of messages on
    an in-memory topic; a replayed write of the same key replaces the prior
    (uncommitted) delivery, mirroring abort-and-republish. Driver-side
    collect makes this strictly a test/demo implementation — it exists to
    prove the sink protocol is portable off parquet (O26). Safe for
    concurrent keys: each call is one store into the ``topics`` dict under
    its own key (atomic under the GIL)."""

    def __init__(self) -> None:
        self.topics: dict[str, list] = {}

    def write(self, key: str, df: DataFrame) -> int:
        rows = [r.asDict() for r in df.collect()]
        self.topics[key] = rows
        return len(rows)


class CommitLog:
    """The write-data-then-atomic-marker protocol, shared by every
    exactly-once sink in the engine (batch :class:`RangeCommitSink` keyed by
    txid range, streaming ``transactional_sink`` keyed by batch id). ONE
    implementation of the crash-window contract: a marker is renamed into
    place only after the data write returns, so a crash in between leaves
    data that still reads as uncommitted and is wholly replaced on replay.
    Harden the window here (fsync-before-rename, marker schema changes) and
    every sink inherits it."""

    def __init__(self, out_dir: str) -> None:
        self.dir = os.path.join(out_dir, "_commits")
        os.makedirs(self.dir, exist_ok=True)

    def marker(self, key: str) -> str:
        return os.path.join(self.dir, f"{key}.json")

    def committed(self, key: str) -> bool:
        # Existence alone is not commit: after a power loss the rename can
        # survive while the marker's data pages never hit disk (empty or
        # truncated JSON). An unparsable marker therefore reads as
        # UNCOMMITTED — the range replays and mode="overwrite" replaces any
        # orphan data, exactly the crash-window contract.
        try:
            with open(self.marker(key)) as f:
                json.load(f)
            return True
        except (OSError, ValueError):
            return False

    def commit(self, key: str, payload: dict) -> None:
        tmp = self.marker(key) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f)
            # fsync BEFORE the rename: rename-then-crash must never expose a
            # marker whose bytes were still in the page cache — that is the
            # host-crash hole process-crash testing can't see
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self.marker(key))  # the atomic commit point
        # fsync the directory entry so the rename itself is durable
        dfd = os.open(self.dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)


class RangeCommitSink:
    """Exactly-once-per-(schema, txid-range) sink: data first (via a
    pluggable :class:`Writer`, parquet by default), then an
    atomically-renamed commit marker (:class:`CommitLog`). Replays of
    committed ranges skip.

    Crash-window design: the only non-atomic window is AFTER the data write
    and BEFORE the marker rename. A crash there leaves orphan parquet under
    ``txid_hi=N`` with no marker — the range still reads as uncommitted, so
    the replaying poll recomputes the delta and ``mode="overwrite"`` replaces
    the orphan files wholesale before the marker lands. Readers that gate on
    markers never see the orphans at all — the same guarantee the reference
    gets from an aborted Kafka transaction (S4HanaProducer.java:458), proven
    by ``test_crash_between_data_write_and_marker_is_replay_safe``."""

    def __init__(self, out_dir: str, writer: Writer | None = None) -> None:
        self.out_dir = out_dir
        self.writer = writer if writer is not None else ParquetWriter(out_dir)
        self.log = CommitLog(out_dir)

    def committed(self, name: str, hi: int) -> bool:
        return self.log.committed(f"{name}.{hi}")

    def last_committed(self, name: str) -> int | None:
        """Highest committed range key for ``name`` (None if none) — the
        per-mapping resume point poll() uses so a crash-replayed poll with
        an advanced watermark never emits overlapping ranges. Delegates to
        :meth:`committed_keys` so the marker-scanning contract (including
        truncated-marker re-validation, which must never yield a resume
        point that skips a range needing replay) lives in exactly one
        place. Hot-poll economy (ADVICE r7): keys are probed DESCENDING and
        the scan stops at the first parseable marker — the common case
        (healthy newest marker) costs one file open per poll instead of
        JSON-parsing every committed range's marker. A truncated
        post-power-loss newest marker reads as uncommitted and the scan
        falls through to the next-highest key, which is exactly the resume
        point the replay contract wants (the torn range replays)."""
        for key in sorted(self._marker_keys(name), reverse=True):
            if self.log.committed(f"{name}.{key}"):
                return key
        return None

    def _marker_keys(self, name: str) -> list[int]:
        """Range keys with a marker FILE present (committed or torn) —
        the shared listing both scan paths filter through
        :meth:`CommitLog.committed`, so the truncated-marker contract
        lives in exactly one validation call."""
        import re as _re

        pat = _re.compile(_re.escape(name) + r"\.(\d+)\.json$")
        try:
            entries = os.listdir(self.log.dir)
        except FileNotFoundError:  # pragma: no cover
            return []
        return [int(m.group(1)) for e in entries if (m := pat.fullmatch(e))]

    def committed_keys(self, name: str) -> list[int]:
        """Every committed range key for ``name``, ascending — the sink-side
        manifest a compactor or consumer replays. Truncated post-power-loss
        markers re-validate as uncommitted."""
        return sorted(
            k for k in self._marker_keys(name) if self.log.committed(f"{name}.{k}")
        )

    def read_committed(
        self, spark: SparkSession, name: str, keys: list[int] | None = None
    ) -> DataFrame:
        """One DataFrame over every COMMITTED range of ``name`` — orphan
        (uncommitted, crash-window) range directories are invisible, exactly
        like a read_committed Kafka consumer skipping aborted transactions.
        Feed this to ``operators.cdc.compact_changes`` for the log-compaction
        pass, or to ``apply_changes``/``snapshot_at`` consumers.

        ``keys`` pins the manifest a caller already listed (one listing, and
        the caller's report matches what was actually read — a concurrent
        poll committing between two listings cannot desynchronize them).
        mergeSchema: ranges emitted across a mapping rebuild (O28 additive
        evolution) differ in columns; the default single-footer inference
        would silently drop the newer columns from every row."""
        if keys is None:
            keys = self.committed_keys(name)
        if not keys:
            raise FileNotFoundError(f"no committed ranges for {name!r} in {self.out_dir}")
        paths = [
            os.path.join(self.out_dir, name, f"txid_hi={k}") for k in keys
        ]
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    def write(self, name: str, hi: int, df: DataFrame) -> int:
        if self.committed(name, hi):
            return 0
        # Deliver FIRST, then record what actually landed: counting the
        # input df separately would execute the whole delta query twice
        # (once for the count, once for the write) and record a number
        # taken before durability. The writer reports the rows its own
        # write job delivered (the parquet writer counts them during the
        # write), so the delta query runs exactly once.
        n = self.writer.write(os.path.join(name, f"txid_hi={hi}"), df)
        self.log.commit(f"{name}.{hi}", {"name": name, "txid_hi": hi, "rows": n})
        return n


def materialize_snapshot(
    spark: SparkSession,
    sink: RangeCommitSink,
    name: str,
    pk_names: list[str],
    base: DataFrame | None = None,
    as_of_txid: int | None = None,
    keys: list[int] | None = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """The full consumer-side materialization over a sink topic: read every
    committed range (aborted ranges invisible), optionally cut at
    ``as_of_txid`` (time travel), fold to the newest record per PK (log
    compaction), and MERGE onto ``base`` — the state a reference consumer
    holds after replaying the compacted Kafka topic from the initial load
    (README.md:82: "data in Kafka is a 1:1 copy of the ABAP table").

    ``base=None`` starts from nothing — correct when the topic carries its
    own initial load ('I' rows), the reference's bootstrap mode
    (S4HanaProducer.java:500-654 emits the initial load into the same
    topic). apply_changes' own latest_per_pk IS the compaction fold (same
    ordinal as compact_changes, pinned by tests), so this is ONE PK-keyed
    hash aggregation + one anti-join; nothing scales with history except
    the single pass over the committed ranges.

    ``keys`` pins the committed-range manifest a caller already listed
    (same contract as :meth:`RangeCommitSink.read_committed`): one listing,
    so a poll committing a new range between the caller's check and this
    read cannot make the materialized state diverge from the checked
    manifest. ``base`` must be a SNAPSHOT (live rows only) — a compacted
    topic that still carries tombstones/meta columns is a changes feed,
    not a base; apply_changes would treat its 'D' rows as live and
    resurrect deleted keys (the CLI's ``snapshot`` command rejects such a
    base outright).

    ``evolve_schema=True`` is the consumer half of O28 additive evolution:
    ranges emitted AFTER a mapping rebuild carry extra columns (mergeSchema
    surfaces them as NULL on older ranges), and the materialized state
    widens to include them — pre-evolution survivors read NULL, exactly
    apply_changes' evolving contract. The default keeps the base's schema
    (unknown topic columns ignored), so widening consumer state is an
    explicit opt-in like everywhere else in the engine."""
    from pyspark.sql import functions as F  # local: avoid cycle at import

    from s4hanaconnector_spark.operators.cdc import apply_changes

    meta = {"_change_type", "_transactionid", "transaction_seq"}
    if base is not None:
        bad = sorted(meta.intersection(base.columns))
        if bad:
            # enforce the snapshot invariant HERE, not only in the CLI: a
            # library caller feeding a tombstone-bearing compact output
            # would silently resurrect deleted keys (apply_changes reads
            # its 'D' rows as live), and any surviving meta column would
            # persist into consumer state as data
            raise ValueError(
                f"base carries CDC meta columns {bad} — that is a changes "
                "feed, not a snapshot; compact with drop_tombstones and "
                "strip the meta columns first"
            )
    changes = sink.read_committed(spark, name, keys=keys)
    if as_of_txid is not None:
        changes = changes.filter(F.col("_transactionid") <= as_of_txid)
    if base is None:
        data_cols = [c for c in changes.columns if c not in meta]
        base = changes.select(*data_cols).filter(F.lit(False))
    return apply_changes(base, changes, pk_names, evolve_schema=evolve_schema)


# broadcast the seen-state only below this on-disk size; above it a plain
# (shuffled) anti-join is the safe shape — md5 fingerprints are 32 chars, so
# 32 MiB is ~1M shipped malformed rows, far past any healthy feed
_SEEN_BROADCAST_MAX_BYTES = 32 * 1024 * 1024
# compact once the append-only state fragments past this many parquet files
_SEEN_COMPACT_MAX_FILES = 64


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # pragma: no cover
                pass
    return total


def _compact_quarantine_seen(
    spark: SparkSession,
    seen_path: str,
    max_files: int = _SEEN_COMPACT_MAX_FILES,
    expiry_cutoff=None,
) -> None:
    """Rewrite the append-only fingerprint state as a distinct, few-file
    parquet once it fragments: every poll appends a handful of files and a
    crash between data-commit and fingerprint-append replays duplicate
    fingerprints, so without compaction the state grows monotonically and
    every poll pays a full-history read over ever-more files. Crash-safe by
    at-least-once semantics: the only non-atomic window (after rmtree,
    before rename) loses the state entirely, which merely re-ships rows —
    the DLQ contract is at-least-once, never-lost; the ``.compact`` tmp dir
    is recovered or discarded on the next call."""
    import shutil

    tmp = seen_path + ".compact"
    if not os.path.isdir(seen_path):
        # crash landed between rmtree(seen) and rename(tmp): finish the swap
        if os.path.isdir(tmp):
            os.rename(tmp, seen_path)
        return
    n_files = sum(1 for f in os.listdir(seen_path) if f.endswith(".parquet"))
    if n_files <= max_files:
        return
    if os.path.isdir(tmp):  # stale tmp from an earlier crashed compaction
        shutil.rmtree(tmp)
    seen = spark.read.option("mergeSchema", "true").parquet(seen_path)
    if "_shipped_ts" in seen.columns:
        # crash replays can re-append the same fingerprint with a later
        # stamp — keep the max so in-window dedup is conservative, and drop
        # physically-expired fingerprints (the read-side filter in
        # _ship_quarantine already ignores them; this reclaims the space)
        seen = seen.groupBy("_row_md5").agg(F.max("_shipped_ts").alias("_shipped_ts"))
        if expiry_cutoff is not None:
            seen = seen.filter(
                F.col("_shipped_ts").isNull() | (F.col("_shipped_ts") >= expiry_cutoff)
            )
    else:  # pragma: no cover - legacy stamp-less state
        seen = seen.distinct()
    seen.coalesce(8).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(seen_path)
    os.rename(tmp, seen_path)


def _ship_quarantine(
    spark: SparkSession,
    sink: RangeCommitSink,
    bad_all: DataFrame,
    now_ts: str | None = None,
    retention_seconds: int | None = 7 * 86400,
) -> int:
    """Ship this poll's not-yet-quarantined malformed rows to the DLQ,
    independent of whether the watermark advanced.

    No txid bound on the scan: a malformed row's txid is UNTRUSTED by
    definition — it can sit above the watermark, below the frontier (a
    corrupt value or a stale replay landing late), or be NULL, and any
    frontier-based bound would silently starve one of those classes (the
    exact silent-drop this gate exists to prevent). The classifier already
    touches every log row, so scanning all malformed rows adds nothing,
    and dedup is content-based:
    every shipped row's md5 fingerprint is appended to a persisted
    ``_quarantine_seen`` side-state and anti-joined out on later polls
    (that state is DLQ-sized — bounded by malformed volume, not data
    volume — and the broadcast anti-join keeps the dedup off the shuffle
    path). DLQ ranges get their OWN sequence key (``txid_hi=<seq>``, the
    first uncommitted number), not the poll frontier: a repeated
    ``from_txid`` (stuck watermark, or a crash-replayed poll) must still
    be able to ship garbage that arrived since the last attempt — a
    frontier-keyed marker would skip the write and lose those rows once
    the frontier moved past their txids. Crash window: data write commits
    before fingerprints append, so a crash between the two re-ships those
    rows on the next poll under the next sequence key (at-least-once DLQ,
    never lost; replays of fully-committed attempts ship nothing because
    every row is already fingerprinted).

    Retention mirrors O25 (S4HanaProducer.java:474-491, 7-day log
    retention) for the fingerprint state: each shipped fingerprint is
    stamped with the poll's ``now_ts``, the anti-join only consults
    fingerprints still inside ``retention_seconds``, and compaction drops
    expired ones physically. A stale malformed row re-arriving past the
    window therefore RE-SHIPS (visible again, at-least-once) instead of
    being silently deduped forever — and the state stays bounded by the
    retention window's malformed volume, not all-time volume.
    ``retention_seconds=None`` disables expiry (legacy behavior); legacy
    stamp-less fingerprints (NULL ``_shipped_ts``) never expire."""
    bad = bad_all
    data_cols = [c for c in bad.columns if c != "_quarantine_reason"]
    fp = F.md5(
        F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in data_cols],
        )
    )
    bad = bad.withColumn("_row_md5", fp)
    seen_path = os.path.join(sink.out_dir, "_quarantine_seen")
    cutoff = None
    if now_ts is not None and retention_seconds is not None:
        cutoff = F.to_timestamp(F.lit(now_ts)) - F.expr(
            f"INTERVAL {int(retention_seconds)} SECONDS"
        )
    # BEFORE the existence guard: compaction also owns the crash-recovery of
    # a half-finished swap (seen dir gone, .compact intact) — guarding first
    # would skip recovery in exactly the crash state it exists for, re-ship
    # the whole window as duplicates, and later discard the intact state
    _compact_quarantine_seen(spark, seen_path, expiry_cutoff=cutoff)
    if os.path.isdir(seen_path) and os.listdir(seen_path):
        seen = spark.read.option("mergeSchema", "true").parquet(seen_path)
        if cutoff is not None and "_shipped_ts" in seen.columns:
            # expired fingerprints stop deduplicating: a re-arriving stale
            # malformed row past the window ships again (O25 symmetry)
            seen = seen.filter(
                F.col("_shipped_ts").isNull() | (F.col("_shipped_ts") >= cutoff)
            )
        seen = seen.select("_row_md5")
        # the seen-state grows with the retention window's DLQ volume
        # (appends per poll, duplicates after crash replays) — broadcast
        # only while it is actually small, else let the planner shuffle the
        # anti-join instead of blowing the driver/broadcast budget
        if _dir_bytes(seen_path) <= _SEEN_BROADCAST_MAX_BYTES:
            seen = F.broadcast(seen)
        bad = bad.join(seen, "_row_md5", "left_anti")
    # one lazy lineage cut: three consumers follow (isEmpty, the sink write,
    # the fingerprint append) and each would otherwise re-run the whole
    # classify + anti-join subtree over the log
    bad = bad.localCheckpoint(eager=False)
    # never commit an empty range — keeps the sequence dense and skips the
    # common nothing-malformed poll entirely
    if bad.isEmpty():
        return 0
    seq = 0
    while sink.committed("_quarantine", seq):
        seq += 1
    shipped = sink.write("_quarantine", seq, bad.drop("_row_md5"))
    if shipped:
        stamp = (
            F.to_timestamp(F.lit(now_ts))
            if now_ts is not None
            else F.lit(None).cast("timestamp")
        )
        bad.select("_row_md5").withColumn("_shipped_ts", stamp).write.mode(
            "append"
        ).parquet(seen_path)
    return shipped


def poll(
    spark: SparkSession,
    mappings: list[TableMapping],
    load_source: Callable[[str], DataFrame],
    pklog: DataFrame,
    transactions: DataFrame,
    from_txid: int,
    sink: RangeCommitSink,
    now_ts: str,
    schema_name: str = "S4",
    staleness_seconds: int = 7200,
    on_alert: Callable[[str, object], None] | None = None,
    quarantine: bool = False,
    quarantine_retention_seconds: int | None = 7 * 86400,
) -> int:
    """One poll: emit every impacted mapping's delta over (from_txid, hi]
    and return hi (the next resume point). ``from_txid`` unchanged means
    nothing was safe to read.

    The impacted mappings' units (resume point, ``load_source``, delta,
    write, commit) run concurrently on a thread pool sized by the
    context's default parallelism, so ``load_source`` is called from pool
    threads and must be safe to call from several at once. Their jobs
    inherit the caller's job group, so ``cancelJobGroup`` still cancels
    the whole poll. ``poll`` waits for every unit and then re-raises the
    first failure in mapping order; it never returns ``hi`` when a unit
    failed. The mappings that did commit keep their ranges, the state a
    crash partway leaves, and the per-mapping resume point makes it
    replay-safe.

    ``on_alert`` is the O22 hook (S4HanaProducer.java:339-358): called as
    ``on_alert(level, oldest_start_time)`` when the oldest in-flight write
    transaction has been open longer than the info (5 s) / warn (60 s)
    thresholds — the engine-side equivalent of the reference's
    ``addOperationLogLine`` notifications.

    ``quarantine=True`` gates the log through the dead-letter classifier
    first (structural checks — per-mapping PK castability stays with each
    table's change view): malformed rows are shipped to the sink under the
    ``_quarantine`` range key instead of poisoning the watermark or the
    delta joins, and only valid rows drive the rest of the poll. DLQ
    ranges are written BEFORE the advance short-circuit (a poll whose only
    new rows are malformed still ships them) under their own sequence
    keys, with a persisted fingerprint side-state guaranteeing each
    malformed row lands exactly once across polls — the full contract
    lives on :func:`_ship_quarantine`."""
    names = [m.name for m in mappings]
    if len(set(names)) != len(names):
        # two mappings sharing a name would collide on the same commit
        # marker: the second delta reads as "already committed" and is
        # silently skipped — permanent data loss, so refuse loudly
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"duplicate mapping names: {dupes}")
    if quarantine:
        from s4hanaconnector_spark.operators.cdc import classify_malformed

        labeled = classify_malformed(pklog, pk_cast=None)
        bad_all = labeled.filter(F.col("_quarantine_reason").isNotNull())
        pklog = labeled.filter(F.col("_quarantine_reason").isNull()).drop(
            "_quarantine_reason"
        )
    wm = watermark(
        pklog,
        transactions,
        now_ts,
        min_transactionid=from_txid,
        staleness_seconds=staleness_seconds,
    ).collect()[0]
    hi = wm["maxtxid"]
    level = classify_txn_latency(wm["oldest_start_time"], now_ts)
    if level != "ok" and on_alert is not None:
        on_alert(level, wm["oldest_start_time"])
    if quarantine:
        _ship_quarantine(
            spark, sink, bad_all, now_ts=now_ts,
            retention_seconds=quarantine_retention_seconds,
        )
    if hi <= from_txid:
        return from_txid

    changed = {
        r["table_name"]
        for r in impacted_tables(pklog, schema_name, from_txid, hi).collect()
    }

    def emit(m: TableMapping) -> None:
        # Per-mapping resume: a crash or a failed unit leaves some mappings
        # committed at hi and others not; if the watermark has advanced by
        # the replay (hi' > hi), re-emitting (from_txid, hi'] for the
        # already-committed mappings would create two committed ranges with
        # OVERLAPPING rows. Each mapping therefore resumes from its own last
        # committed hi — ranges per mapping never overlap, which is the
        # reference's all-tables-in-one-Kafka-transaction atomicity
        # re-expressed for per-mapping markers.
        lo_m = max(from_txid, sink.last_committed(m.name) or from_txid)
        if hi <= lo_m:
            return
        delta = cdc_delta(
            load_source(m.mastertable), pklog, m, lo_m, hi,
            schema_name=schema_name, strategy="broadcast",
        )
        sink.write(m.name, hi, delta)

    # one changed physical table can feed several mapping objects
    # (tabledirectory fan-out, S4HanaProducer.java:56-61). Their units run
    # side by side: each one's driver-side build and planning overlaps the
    # others' jobs. Every unit is wrapped on this thread, so its jobs carry
    # the caller's job group, description and scheduler pool.
    units = [m for m in mappings if m.mastertable in changed]
    workers = max(1, min(len(units), spark.sparkContext.defaultParallelism))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(emit), m) for m in units]
    for f in futures:  # every unit has finished; first failure in mapping order
        f.result()
    return hi
