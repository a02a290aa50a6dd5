"""The plan profiler reads the plan Spark actually ran: every adaptive
wrapper and query stage expanded, metrics in base units."""

from __future__ import annotations

from s4hanaconnector_spark.profile import profile
from s4hanaconnector_spark.queries import load_all


def test_profile_walks_final_plan_with_metrics(spark, sf_dir):
    fn = load_all()["q3_shipping_priority"].fn
    p = profile(lambda: fn(spark, sf_dir))
    classes = [n.cls for n in p.nodes]
    assert not [c for c in classes if c == "AdaptiveSparkPlanExec" or c.endswith("QueryStageExec")]

    scans = [n for n in p.nodes if n.cls == "FileSourceScanExec"]
    assert scans and all(n.metrics.get("numOutputRows", 0) > 0 for n in scans)
    assert "FileScan parquet" in p.render()
    assert p.rows == fn(spark, sf_dir).count() > 0

    shuffles = [n for n in p.nodes if n.cls == "ShuffleExchangeExec"]
    assert any(n.metrics.get("shuffleBytesWritten", 0) > 0 for n in shuffles)
    broadcasts = [n for n in p.nodes if n.cls == "BroadcastExchangeExec"]
    assert any("buildTime" in n.metrics or "collectTime" in n.metrics for n in broadcasts)
    assert p.layers()["broadcast_s"] > 0

    # shuffleWriteTime is an nsTiming metric: seconds here, not raw ns
    timed = [n for n in shuffles if "shuffleWriteTime" in n.metrics]
    assert timed and all("shuffleWriteTime" in n.seconds for n in timed)
    assert all(0 < n.metrics["shuffleWriteTime"] < 60 for n in timed)
