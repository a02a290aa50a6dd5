"""Per-operator profile of a query, read from the plan Spark actually ran.

:func:`profile` builds a DataFrame, plans it, runs it with
``queryExecution().toRdd().count()`` (every row is produced; nothing is
collected or written) and walks the *final* physical plan: an adaptive plan
is expanded to the plan AQE finished with, a query stage to the plan it
ran, a reused exchange to the exchange it reuses, and subqueries are walked
too. Every node carries its non-zero SQL metrics, read from the driver-side
accumulators, in base units: ``timing`` (ms) and ``nsTiming`` (ns) metrics
become seconds, ``size`` stays bytes and ``sum`` stays a count.

Three callers: ``s4spark plan QUERY`` prints one profile,
``python -m s4hanaconnector_spark.profile`` regenerates PLANS.md from the
final plan of every static declared query, and bench.py times its tiers
through :func:`profile` and keeps each query's :meth:`Profile.layers`.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

# timing metrics are kept in ms, nsTiming ones (shuffleWriteTime) in ns.
# "average" metrics are left out: tasks merge them into a sum of per-task
# averages, which is no figure of the query.
_TO_BASE = {"sum": 1, "size": 1, "timing": 1e-3, "nsTiming": 1e-9}
_SECONDS = {"timing", "nsTiming"}

# lifecycle queries drive the streaming engine or the poll/sink lifecycle
# rather than one static plan
LIFECYCLE_PREFIXES = (
    "streaming_",
    "cdc_poll_roundtrip",
    "cdc_poll_jdbc_wire",
    "cdc_materialize_topic",
    "cdc_stream",
    "cdc_two_poll",
    "cdc_quarantine_poll",
)


@dataclass
class Node:
    id: int  # SparkPlan.id; a reused exchange's subtree repeats the reused ids
    depth: int
    cls: str  # JVM class name, e.g. ShuffleExchangeExec
    text: str  # simpleString
    metrics: dict[str, float] = field(default_factory=dict)
    seconds: set[str] = field(default_factory=set)  # metrics in seconds

    def line(self) -> str:
        shown = [
            f"{k}={v:.3f}s" if k in self.seconds else f"{k}={v:.0f}"
            for k, v in sorted(self.metrics.items())
        ]
        return "  " * self.depth + self.text + ("  [" + " ".join(shown) + "]" if shown else "")


@dataclass
class Profile:
    rows: int  # what the top operator produced, counted by the action
    build_s: float  # building the DataFrame (untimed by bench.py)
    build_jobs: int  # Spark jobs run while building, e.g. parquet footer reads
    plan_s: float
    exec_s: float
    nodes: list[Node]

    def distinct(self) -> list[Node]:
        """Nodes once each: a reused exchange's subtree is walked twice but
        ran once."""
        return list({n.id: n for n in self.nodes}.values())

    def total(self, metric: str, cls: str | None = None) -> float:
        return sum(
            n.metrics.get(metric, 0.0)
            for n in self.distinct()
            if cls is None or n.cls == cls
        )

    def count(self, cls: str, text: str = "") -> int:
        return sum(n.cls == cls and text in n.text for n in self.distinct())

    def render(self) -> str:
        head = (
            f"rows={self.rows} build={self.build_s:.3f}s ({self.build_jobs} jobs) "
            f"plan={self.plan_s:.3f}s exec={self.exec_s:.3f}s"
        )
        return "\n".join([head, *(n.line() for n in self.nodes)])

    def layers(self) -> dict:
        """The query's wall split by layer: build, plan and execution walls,
        then what the scans, whole-stage pipelines, exchanges, broadcasts
        and Python/Arrow exec nodes report."""
        python: dict[str, float] = {}
        for n in self.distinct():
            for k, v in n.metrics.items():
                if k.startswith("python"):
                    python[k] = python.get(k, 0.0) + v
        return {
            "build_s": round(self.build_s, 3),
            "build_jobs": self.build_jobs,
            "plan_s": round(self.plan_s, 3),
            "exec_s": round(self.exec_s, 3),
            "scan_s": round(self.total("scanTime"), 3),
            "pipeline_s": round(self.total("pipelineTime"), 3),
            "shuffle_write_bytes": int(self.total("shuffleBytesWritten")),
            "fetch_wait_s": round(self.total("fetchWaitTime"), 3),
            "broadcast_s": round(
                self.total("buildTime", "BroadcastExchangeExec")
                + self.total("collectTime", "BroadcastExchangeExec"),
                3,
            ),
            "python": {k: round(v, 3) for k, v in sorted(python.items())},
        }


def profile(build) -> Profile:
    """Build the DataFrame ``build()`` returns, run it once and profile it."""
    from pyspark.sql import SparkSession

    sc = SparkSession.active().sparkContext._jsc.sc()
    jobs0 = sc.dagScheduler().nextJobId()
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    build_jobs = sc.dagScheduler().nextJobId() - jobs0
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    t2 = time.perf_counter()
    rows = qe.toRdd().count()
    t3 = time.perf_counter()
    nodes: list[Node] = []
    _walk(qe.executedPlan(), 0, nodes)
    return Profile(rows, t1 - t0, build_jobs, t2 - t1, t3 - t2, nodes)


def _walk(plan, depth: int, out: list[Node]) -> None:
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _walk(plan.executedPlan(), depth, out)
    if cls.endswith("QueryStageExec"):
        return _walk(plan.plan(), depth, out)
    node = Node(plan.id(), depth, cls, plan.simpleString(25))
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        kind = kv._2().metricType()
        value = kv._2().value()
        # size and timing accumulators start at -1 until a task reports
        if kind in _TO_BASE and value > 0:
            node.metrics[kv._1()] = value * _TO_BASE[kind]
            if kind in _SECONDS:
                node.seconds.add(kv._1())
    out.append(node)
    if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):  # leaf nodes
        return _walk(plan.child(), depth + 1, out)
    for seq in (plan.subqueries(), plan.children()):
        for i in range(seq.size()):
            _walk(seq.apply(i), depth + 1, out)


def _plan_counts(p: Profile) -> list[int]:
    """PLANS.md's five columns, counted by node class in the final plan."""
    single = p.count("ShuffleExchangeExec", "SinglePartition")
    return [
        p.count("ShuffleExchangeExec") - single,
        single,
        p.count("BroadcastHashJoinExec") + p.count("BroadcastNestedLoopJoinExec"),
        p.count("SortMergeJoinExec"),
        p.count("WholeStageCodegenExec"),
    ]


HEADER = """# PLANS — the final physical plan of every declared query (sf0.01)

Machine-generated by `python -m s4hanaconnector_spark.profile`, which runs
each declared query once at sf0.01 under `session.get_spark` at
`{master}` and counts node classes in the plan AQE finished with
(`s4hanaconnector_spark/profile.py`; `s4spark plan NAME` prints one such
plan with its per-operator metrics). Columns: hash/range/round-robin
shuffles (`ShuffleExchangeExec`), single-partition exchanges, broadcast
joins (`BroadcastHashJoin` + `BroadcastNestedLoopJoin`), sort-merge joins,
and whole-stage-codegen spans. A reused exchange counts once. "lifecycle"
= the query drives the streaming engine or the poll/sink lifecycle rather
than one static plan. The design rules being audited (SURVEY §4): small
sides broadcast, big sides never sort-merge unnecessarily, row-local
operators shuffle zero times, aggregations shuffle once on their key.
These are the plans of the sf0.01 fixtures: AQE picks its joins from
runtime sizes, so a larger input can keep a sort-merge join that a small
one demotes to a broadcast.

"1-part" counts single-partition exchanges separately from the scale-bearing
shuffles: a global aggregate or a bounded top-k rank list legitimately
funnels a tiny input to one partition, but a 1-part exchange fed by a
corpus-sized input is the single-task straggler shape.

Streaming state is proven BOUNDED, not just TTL'd by construction: the
default test suite reads the state store's own `stateOperators.numRowsTotal`
across >=10 polls of fully-churning keys and asserts the live row count
plateaus at ~2 polls' worth for both the watermark path
(dropDuplicatesWithinWatermark) and the applyInPandasWithState frontier
with processing-time TTL (tests/test_streaming.py state-plateau tests).

Walls across scale (the 10x smoke and the x100 scaling ladder) are in
`SCALE_SMOKE.json`, written by `pytest -m slow tests/test_scale_smoke.py`.

| query | shuffles | 1-part | broadcast joins | sort-merge joins | codegen spans |
|---|---|---|---|---|---|
"""


def main() -> None:
    from s4hanaconnector_spark.catalog import DEFAULT_SF_DIR
    from s4hanaconnector_spark.queries import load_all
    from s4hanaconnector_spark.session import get_spark

    # the sf0.01 fixtures, beside the bench's default sf0.1 ones (TESTDATA.md)
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.01")
    spark = get_spark("plan-profile")
    reg = load_all()
    rows = []
    for name in sorted(reg):
        if name.startswith(LIFECYCLE_PREFIXES):
            cells = ["lifecycle (runs the engine + sink, not one static plan)"] + [""] * 4
        else:
            cells = _plan_counts(profile(lambda: reg[name].fn(spark, sf_dir)))
        rows.append(f"| {name} | " + " | ".join(map(str, cells)) + " |")
    header = HEADER.format(master=f"local[{spark.sparkContext.defaultParallelism}]")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write(header + "\n".join(rows) + "\n")
    print(f"PLANS.md: {len(rows)} queries")


if __name__ == "__main__":
    main()
