"""bench.py: the headliner registry resolves, and one run of the two
composed rows at sf0.001 prints its JSON line and leaves no shards."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import __spark_entry__ as entry
import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_headline_registry_resolves():
    qs = entry.queries()
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    unresolved = [n for n in bench.HEADLINE
                  if n not in bench.LOCAL and n not in qs]
    assert unresolved == []
    assert set(bench.LOCAL) <= set(bench.HEADLINE)
    assert sum(bench.session_slices(), []) == bench.HEADLINE


def test_composed_rows_run_and_leave_no_shards(tmp_path, sf_dir):
    env = {**os.environ,
           "SPARK_GRAFT_SF_DIR": sf_dir,
           "SPARK_GRAFT_ONLY": "llm_pretrain,web_corpus_prep",
           "SPARK_GRAFT_CPUS": "2",
           "TMPDIR": str(tmp_path)}
    env.pop("SPARK_GRAFT_SESSION", None)
    out = subprocess.run([sys.executable, "bench.py"], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(rec["queries"]) == {"llm_pretrain", "web_corpus_prep"}
    assert all(t > 0 for t in rec["queries"].values())
    assert list(tmp_path.rglob("_manifest")) == []
    assert list(tmp_path.glob("bench-*")) == []
