"""Structured Streaming layer (E16-E17, E24-E26).

The reference's runtime is a poll loop: every ``pollinterval`` seconds it
computes a safe watermark, runs the delta query for the txid range since the
last poll, and emits the rows inside one Kafka transaction
(S4HanaProducer.java:391-469 — SURVEY §3.1). The always-on path is that same
batch ``poll()`` under a trigger (``poll_each_batch``):

  poll interval            -> trigger(processingTime=...) or a new log file
  (lo, hi] txid range      -> each micro-batch re-reads the log by range,
                              up to the safe watermark
  Kafka delta transaction  -> RangeCommitSink's per-mapping commit markers
                              (replays of a committed range no-op)
  PKLOG retention          -> watermark TTL on state

One implementation, two execution modes: a batch run and a streaming run of
the same log commit the same ranges.
"""

from s4hanaconnector_spark.streaming.core import (  # noqa: F401
    changes_stream,
    drain,
    poll_each_batch,
    session_window_agg,
    sliding_window_agg,
    stateful_dedup,
    stateful_latest_by_key,
    transactional_sink,
    tumbling_window_agg,
)
