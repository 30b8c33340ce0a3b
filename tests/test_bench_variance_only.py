"""bench_variance.py --only: the printed JSON line keeps every run's
raw bench.py record next to the medians, so a standalone measurement
can be paired and re-read later. No Spark: bench.py is faked."""

from __future__ import annotations

import json
import subprocess

import bench_variance

RUNS = [
    {"metric": "headline_queries_total_wall", "value": 1.5,
     "unit": "sec", "queries": {"q1": 1.5}, "sf": 0.001},
    {"metric": "headline_queries_total_wall", "value": 2.5,
     "unit": "sec", "queries": {"q1": 2.5}, "sf": 0.001},
]


def test_only_keeps_raw_runs(monkeypatch, capsys):
    calls = []

    def fake_run(cmd, **kw):
        calls.append(kw["env"]["SPARK_GRAFT_ONLY"])
        line = json.dumps(RUNS[len(calls) - 1])
        return subprocess.CompletedProcess(cmd, 0, f"log\n{line}\n", "")

    monkeypatch.setattr(bench_variance.subprocess, "run", fake_run)
    monkeypatch.setattr("sys.argv",
                        ["bench_variance.py", "2", "--only", "q1"])
    bench_variance.main()
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert calls == ["q1", "q1"]
    assert rec["queries"] == {"q1": 2.0}
    assert rec["runs"] == RUNS
