#!/usr/bin/env python
"""Benchmark harness: the headline queries at $SPARK_GRAFT_SF_DIR (default
the sf0.1 fixtures) on ``session.get_spark``'s session, then a synthesized
10x tier, an IVF build/probe split and a streaming latency leg.

Every tier takes a fixed number of samples and reports their min and
median. Each sample records its wall together with the machine-wide CPU
steal seconds over it, so a sample the host starved says so in the
artifact. A full three-tier run writes the whole document (per-sample walls
and steal, host facts) to ``BENCH_LAST_FULL.json``; stdout gets ONE compact
JSON line: metric, value, unit, sf, host, summary.

Timing = planning plus ``queryExecution().toRdd().count()`` through
``s4hanaconnector_spark.profile``: every row is produced, nothing is
collected or written. Building the DataFrame is untimed. Each query record
also carries ``layers``, the profile's layer split of its fastest sample
(build, plan and execution walls, build-time jobs, then what the scans,
pipelines, exchanges, broadcasts and Python/Arrow nodes report).

Environment: ``SPARK_GRAFT_SF_DIR`` (base tier), ``SPARK_GRAFT_SF1=0`` (skip
the 10x and IVF tiers), ``SPARK_GRAFT_STREAMING=0`` (skip the streaming leg).
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from s4hanaconnector_spark.profile import profile  # noqa: E402

BASE_SAMPLES = 3
X10_SAMPLES = 2
BUILD_SAMPLES = 2
PROBE_SAMPLES = 2
# the printed line; everything else stays in the file
STDOUT_KEYS = ("metric", "value", "unit", "sf", "host", "summary")


def _load_host():
    """``perfbench/host.py``, loaded by path: the one reader of host facts
    and ``/proc/stat`` CPU times."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_host", os.path.join(ROOT, "perfbench", "host.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


host = _load_host()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from s4hanaconnector_spark.queries import load_all
    from s4hanaconnector_spark.session import get_spark

    t0, steal0 = time.perf_counter(), _steal()
    spark = get_spark("s4spark-bench")
    headline = {n: q for n, q in load_all().items() if q.headline}

    # warm up JVM JIT / whole-stage codegen / shuffle machinery by running
    # every headline query once at the smallest SF — otherwise the first
    # timed query absorbs ~3 s of one-time compilation that is not plan cost
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for q in headline.values():
        profile(lambda: q.fn(spark, warm_dir))

    base = _tier(spark, headline, sf_dir, BASE_SAMPLES)
    doc = {
        "metric": "headline_suite_wall",
        "value": base["value"],
        "unit": "sec",
        "sf": _sf(sf_dir),
        "host": {
            **host.facts(ROOT),
            "master": spark.sparkContext.master,
            "driver_memory": spark.conf.get("spark.driver.memory"),
        },
        "median": base["median"],
        "queries": base["queries"],
    }
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        doc["x10"] = _x10_tier(spark, headline, sf_dir, base["queries"])
        doc["ivf"] = _ivf_build_probe(spark, sf_dir, doc["x10"]["dir"])
    if os.environ.get("SPARK_GRAFT_STREAMING", "1") != "0":
        doc["streaming"] = _streaming_tier(spark, sf_dir)
    spark.stop()
    doc["loadavg"] = [round(x, 1) for x in os.getloadavg()]
    doc["run_s"] = round(time.perf_counter() - t0, 1)
    doc["steal_s"] = round(_steal() - steal0, 2)
    # summary is the LAST key: a reader that keeps only the tail of stdout
    # still gets every tier's numbers
    doc["summary"] = _summary(doc)
    print(_stdout_line(doc))
    # only a full three-tier run may replace the committed reference: a
    # quick run (SPARK_GRAFT_SF1=0 / SPARK_GRAFT_STREAMING=0) would clobber
    # its x10/ivf/streaming evidence with a partial artifact
    if "x10" in doc and "streaming" in doc:
        try:
            with open(os.path.join(ROOT, "BENCH_LAST_FULL.json"), "w") as f:
                json.dump(doc, f, indent=1)
                f.write("\n")
        except OSError:  # pragma: no cover - read-only checkout is non-fatal
            pass


def _stdout_line(doc: dict) -> str:
    return json.dumps({k: doc[k] for k in STDOUT_KEYS if k in doc})


def _sf(sf_dir: str) -> float | str:
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def _steal() -> float:
    return host.cpu_times()["steal"]


def _measure(fn) -> tuple[float, float]:
    """Wall seconds of ``fn()`` and machine-wide CPU steal seconds over it."""
    steal = _steal()
    t0 = time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    return wall, _steal() - steal


def _record(runs: list[tuple[float, float]]) -> dict:
    walls = [w for w, _ in runs]
    return {
        "min": round(min(walls), 3),
        "median": round(statistics.median(walls), 3),
        "wall": [round(w, 3) for w in walls],
        "steal_s": [round(s, 2) for _, s in runs],
    }


def _sample(make_df, n: int) -> dict:
    """``n`` profiled runs of a freshly built frame, each timed from
    planning to the last row; steal covers the whole sample, build
    included."""
    runs, profiles = [], []
    for _ in range(n):
        steal = _steal()
        p = profile(make_df)
        runs.append((p.plan_s + p.exec_s, _steal() - steal))
        profiles.append(p)
    rec = _record(runs)
    rec["layers"] = min(profiles, key=lambda p: p.plan_s + p.exec_s).layers()
    return rec


def _tier(spark, headline, sf_dir: str, n: int) -> dict:
    queries = {
        name: _sample(lambda: q.fn(spark, sf_dir), n)
        for name, q in headline.items()
    }
    return {
        "value": round(sum(r["min"] for r in queries.values()), 3),
        "median": round(sum(r["median"] for r in queries.values()), 3),
        "queries": queries,
    }


def _summary(doc: dict) -> dict:
    s: dict = {
        "headline_wall": doc["value"],
        "headline_median": doc["median"],
        "sf": doc["sf"],
        "steal_s": doc["steal_s"],
        "run_s": doc["run_s"],
    }
    x10 = doc.get("x10")
    if x10 and x10["ratio_vs_base"]:
        worst = max(x10["ratio_vs_base"].items(), key=lambda kv: kv[1])
        s["x10_max_ratio"] = worst[1]
        s["x10_max_ratio_query"] = worst[0]
        s["x10_wall"] = x10["value"]
    ivf = doc.get("ivf")
    if ivf:
        s["ivf_build_sec"] = ivf["build"]["min"]
        s["ivf_probe_sec"] = ivf["probe"]["min"]
        s["ivf_probe_x10_ratio"] = ivf.get("probe_x10_ratio")
    st = doc.get("streaming")
    if st:
        for leg, vals in st.items():
            if "p50_sec" in vals:
                s[f"stream_{leg}_p50"] = vals["p50_sec"]
                s[f"stream_{leg}_p95"] = vals["p95_sec"]
        if "burst" in st:
            s["burst_drain_sec"] = st["burst"].get("drain_sec")
    return s


def _streaming_tier(spark, base_dir: str) -> dict:
    """Measured streaming latency: BASELINE.md's "<= 5 s per 1k-change
    micro-batch" target, measured through the always-on CDC path —
    file-source change feed (E17) triggering batch ``poll()`` per
    micro-batch (``streaming.core.poll_each_batch``: safe watermark,
    impacted tables, delta against the orders table, ``RangeCommitSink``
    commit markers). The transaction table is empty, so nothing is held
    back.

    Three legs:
      * ``1k``:  21 polls x 1k changes (21 samples so nearest-rank p95 is a
        real percentile, not an alias for max);
      * ``10k``: 10 polls x 10k changes (the reference's tabledirectory
        fan-out lands bursts as bigger polls, S4HanaProducer.java:400-420);
        at 10 samples nearest-rank p95 EQUALS max — the conservative
        direction for a latency gate;
      * ``burst``: a 10-poll backlog drained in one AvailableNow pass —
        restart-recovery wall, not steady-state.

    In the steady legs each poll's file lands and is drained before the
    next one lands: every micro-batch re-reads the log by txid range, so a
    log holding the whole backlog would emit it all in the first batch.
    The pipeline is stateless (its checkpoint holds no ``state/``), so the
    state-store provider does not enter what is timed."""
    import shutil
    import tempfile

    out: dict = {}
    for leg, n_polls, rows_per, burst in [
        ("1k", 21, 1000, False), ("10k", 10, 10000, False), ("burst", 10, 1000, True),
    ]:
        base = tempfile.mkdtemp(prefix=f"bench_stream_{leg}_")
        try:
            out[leg] = _run_streaming_leg(
                spark, base_dir, base, n_polls, rows_per, burst=burst
            )
        finally:
            # no cross-run reuse (unlike the deliberately cached x10
            # dir): feed files, sink output and checkpoint die here
            shutil.rmtree(base, ignore_errors=True)
    return out


def _run_streaming_leg(spark, base_dir, base, n_polls, rows_per, burst=False) -> dict:
    import glob
    import shutil

    from pyspark.sql import functions as F

    from s4hanaconnector_spark.catalog import load_table
    from s4hanaconnector_spark.poll import RangeCommitSink
    from s4hanaconnector_spark.queries.cdc import ORDERS_IDENTITY
    from s4hanaconnector_spark.streaming.core import (
        PKLOG_DDL,
        changes_stream,
        drain,
        poll_each_batch,
    )

    log_dir = os.path.join(base, "log")
    os.makedirs(log_dir)
    orders = load_table(spark, base_dir, "orders")
    n_orders = orders.count()

    def land(p: int) -> None:
        rows = spark.range(rows_per).select(
            F.lit("2026-01-01 00:00:00").cast("timestamp").alias("change_ts"),
            F.lit("S4").alias("schema_name"),
            F.lit("U").alias("change_type"),
            ((F.col("id") + p * rows_per) % n_orders + 1).cast("string").alias("pk1"),
            *[F.lit(None).cast("string").alias(f"pk{i}") for i in range(2, 7)],
            (F.col("id") + p * rows_per + 1).cast("bigint").alias("transactionid"),
            F.lit(1).cast("int").alias("transaction_seq"),
            F.lit("orders").alias("table_name"),
        )
        w = os.path.join(base, f"w{p}")
        rows.coalesce(1).write.parquet(w)
        part = glob.glob(os.path.join(w, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(log_dir, f"poll{p:03d}.parquet"))

    on_batch = poll_each_batch(
        spark, [ORDERS_IDENTITY], lambda name: orders,
        lambda: spark.read.schema(PKLOG_DDL).parquet(log_dir),
        lambda: spark.createDataFrame([], "update_transaction_id bigint, start_time timestamp"),
        0, RangeCommitSink(os.path.join(base, "out")), lambda: "2026-01-01 00:00:00",
    )

    def run():
        return drain(
            changes_stream(spark, log_dir).writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
        )

    steal = _steal()
    if burst:
        for p in range(n_polls):
            land(p)
        t0 = time.perf_counter()
        progresses = run().recentProgress
        drain_wall = time.perf_counter() - t0
    else:
        progresses = []
        for p in range(n_polls):
            land(p)
            progresses += run().recentProgress
    steal = round(_steal() - steal, 2)
    # AvailableNow runs no empty batch here, and the trigger never reads a
    # batch's rows (its progress reports numInputRows 0): every entry is a poll
    walls = sorted(p["durationMs"]["triggerExecution"] / 1000.0 for p in progresses)
    if not walls:  # pragma: no cover - defensive: never report an empty leg
        return {"batches": 0}
    if burst:
        # backlog-recovery leg: the metric is the wall to drain the whole
        # pile, plus how many batches the engine chose to split it into
        return {
            "backlog_polls": n_polls,
            "rows_total": n_polls * rows_per,
            "batches": len(walls),
            "drain_sec": round(drain_wall, 3),
            "steal_s": steal,
        }

    def pct(frac: float) -> float:
        # nearest-rank on sorted walls; with n <= 20 samples p95 lands on
        # the max — conservative for a latency gate, and the artifact
        # says so (p95_is_max) instead of implying sub-sample resolution
        return round(walls[min(len(walls) - 1, int(frac * len(walls)))], 3)

    return {
        "batches": len(walls),
        "rows_per_batch": rows_per,
        "p50_sec": pct(0.5),
        "p95_sec": pct(0.95),
        "p95_is_max": int(0.95 * len(walls)) >= len(walls) - 1,
        "max_sec": round(walls[-1], 3),
        "target_sec": 5.0,
        "steal_s": steal,
    }


def _x10_tier(spark, headline, base_dir: str, base_queries: dict) -> dict:
    """Second tier at a synthesized 10x of the base dir: at sf0.1 every
    headline query is sub-second, so the base tier measures job overhead,
    not plans, and a quadratic rung would hide under fixed costs. Emits the
    base -> 10x ratio per query; the scaling contract is ratio ≲ 12 (linear
    growth + fixed overhead amortization; overhead-dominated micro-queries
    sit near 1). The tier is 10x of WHATEVER base dir the run used —
    ``base_sf`` says which. Synthesis is cached across runs under a
    completion marker (scale_data.synthesize_sf1)."""
    from s4hanaconnector_spark.scale_data import default_sf1_dir, synthesize_sf1

    t0 = time.perf_counter()
    x10_dir = synthesize_sf1(spark, base_dir, default_sf1_dir(base_dir))
    synth_sec = round(time.perf_counter() - t0, 1)
    tier = _tier(spark, headline, x10_dir, X10_SAMPLES)
    tier["ratio_vs_base"] = {
        name: round(r["min"] / base_queries[name]["min"], 1)
        for name, r in tier["queries"].items()
        if base_queries[name]["min"]
    }
    return {**tier, "base_sf": _sf(base_dir), "synth_sec": synth_sec, "dir": x10_dir}


def _ivf_build_probe(spark, base_dir: str, x10_dir: str) -> dict:
    """Separate IVF index BUILD from PROBE: at 100 TB the KMeans quantizer
    fit is a build-once cost amortized over every query, so folding it into
    per-query wall misstates query latency. Reports the sampled-KMeans
    build on the base corpus, then probe-only walls at base and 10x using
    PREBUILT centroids (the production calling convention:
    ``topk(..., centroids=built)``)."""
    from pyspark.sql import functions as F

    from s4hanaconnector_spark.catalog import load_table
    from s4hanaconnector_spark.operators.similarity import ivf_topk, kmeans_centroids

    def corpus(d):
        e = load_table(spark, d, "embeddings")
        return e.select(F.col("vec_id").alias("c_id"), "embedding")

    def queries_df(d):
        e = load_table(spark, d, "embeddings")
        return e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )

    c_base = corpus(base_dir)
    built = []

    def build():
        # the same bounded fit the auto planner runs (~100 training rows
        # per centroid, 10 iterations) so the build measures the production
        # build, not an unbounded full-corpus KMeans the planner never runs
        n_rows = c_base.count()
        n_cent = max(4, int(n_rows**0.5))
        c = kmeans_centroids(
            c_base, vec="embedding", n_centroids=n_cent,
            sample_fraction=min(1.0, (100.0 * n_cent) / max(n_rows, 1)),
            max_iter=10,
        )
        built.append(c.localCheckpoint())  # materialize: build cost ends here

    out = {"build": _record([_measure(build) for _ in range(BUILD_SAMPLES)])}

    def probe(d):
        return _sample(
            lambda: ivf_topk(
                queries_df(d), corpus(d), k=10, n_probe=4, centroids=built[-1]
            ),
            PROBE_SAMPLES,
        )

    out["probe"] = probe(base_dir)
    out["probe_x10"] = probe(x10_dir)
    if out["probe"]["min"]:
        out["probe_x10_ratio"] = round(out["probe_x10"]["min"] / out["probe"]["min"], 1)
    return out


if __name__ == "__main__":
    main()
