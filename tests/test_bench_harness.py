"""Pure-python pins for the bench harness's artifact: the committed full run
must carry what a reader needs to judge it (host facts, per-sample steal),
and the printed line must stay compact."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


def _last_full() -> dict:
    with open(os.path.join(ROOT, "BENCH_LAST_FULL.json")) as f:
        return json.load(f)


def _assert_sampled(rec: dict) -> None:
    assert rec["wall"] and len(rec["steal_s"]) == len(rec["wall"])
    assert rec["min"] == min(rec["wall"]) and rec["min"] <= rec["median"]
    assert all(s >= 0 for s in rec["steal_s"])


def test_last_full_artifact_is_current_shape():
    """The in-repo full-run artifact must parse and carry host facts, every
    sample's wall and steal for the base, x10 and IVF tiers, and the
    tail-window summary as its LAST key."""
    d = _last_full()
    for k in ("nproc", "mem_total_bytes", "spark", "master"):
        assert d["host"][k]
    assert d["queries"] and d["x10"]["queries"].keys() == d["queries"].keys()
    for rec in [*d["queries"].values(), *d["x10"]["queries"].values()]:
        _assert_sampled(rec)
    assert d["x10"]["base_sf"] == 0.1
    for leg in ("build", "probe", "probe_x10"):
        _assert_sampled(d["ivf"][leg])
    for k in ("headline_wall", "x10_max_ratio", "ivf_build_sec", "steal_s"):
        assert k in d["summary"]
    assert list(d.keys())[-1] == "summary"


def test_stdout_line_stays_compact():
    """The printed line carries only metric/value/unit/sf/host/summary and
    fits in 1.5 kB; per-query samples and steal stay in the file."""
    line = bench._stdout_line(_last_full())
    assert len(line.encode()) <= 1536
    assert list(json.loads(line)) == list(bench.STDOUT_KEYS)
