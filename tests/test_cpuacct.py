"""CPU accounting used by the engine profile and the benchmark (cpuacct.py): the
process-tree totals, the per-stage accountant, and the tree-shrank
anomaly clamp (a /proc walk race during PySpark worker churn can
double-count a snapshot; the next delta must surface as an anomaly,
never as negative CPU seconds)."""

from __future__ import annotations

import time

from claude_code_memory_spark import cpuacct


def test_cpu_totals_monotone_and_tree_nonzero():
    b0, t0 = cpuacct.cpu_totals()
    x = sum(i * i for i in range(2_000_000))
    assert x > 0
    b1, t1 = cpuacct.cpu_totals()
    assert b1 >= b0
    assert t1 >= t0


def test_stage_accountant_normal_stage():
    acc = cpuacct.StageAccountant()
    acc.begin()
    t0 = time.time()
    sum(i * i for i in range(2_000_000))
    acc.end("burn", time.time() - t0)
    s = acc.stages["burn"]
    assert s["process_cpu_sec"] is not None and s["process_cpu_sec"] >= 0
    assert 0.0 <= s["external_cpu_share"] <= 1.0
    assert isinstance(s["loaded"], bool)


def test_stage_accountant_tree_shrank_anomaly(monkeypatch):
    seq = iter([(1000, 500), (1100, 400), (1200, 450)])
    monkeypatch.setattr(cpuacct, "cpu_totals", lambda: next(seq))
    acc = cpuacct.StageAccountant()
    acc.begin()
    acc.end("s1", 1.0)  # tree 500 → 400: the race
    assert acc.stages["s1"] == {
        "process_cpu_sec": None,
        "external_cpu_share": None,
        "loaded": True,
        "anomaly": "tree_shrank",
    }
    # the next stage chains from the anomalous snapshot and recovers
    acc.end("s2", 1.0)  # tree 400 → 450
    assert acc.stages["s2"]["process_cpu_sec"] == 0.5
    assert "anomaly" not in acc.stages["s2"]
