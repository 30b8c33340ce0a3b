"""Tests of the benchmark's own code: span self-time arithmetic, result
parsing and the steadiness rule, the seeded generator, and the output
checks on a tiny seed. None of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, run, steady, workloads as W  # noqa: E402
from perfbench.trace import Span, self_times  # noqa: E402

TINY = {"files": 12, "words": 60, "corrupt": 2, "scanned": 1,
        "mix": {"pdf": 0.3, "pdf_z": 0.2, "docx": 0.2, "doc": 0.15,
                "xlsx": 0.15}}


def _span(i, start, end, parent=None):
    return Span(f"s{i}", start, end, parent, "r", i)


def test_self_time_subtracts_merged_children():
    spans = [_span(0, 0.0, 10.0),
             _span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0),   # overlap
             _span(3, 8.0, 12.0, 0),                        # runs past end
             _span(4, 1.5, 2.0, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(0.5)


def test_parse_result_takes_the_last_line_and_validates_it():
    line = json.dumps({"correct": True, "attempted": 3, "failed": 0,
                       "metrics": {"run_s": {"value": 1.5, "unit": "s"}}})
    assert steady.parse_result("noise\n" + line + "\n")["attempted"] == 3
    for bad in ({"correct": True, "attempted": 0, "failed": 0,
                 "metrics": {}},
                {"correct": True, "attempted": 1, "failed": 0,
                 "metrics": {"x": {"value": "1", "unit": "s"}}},
                {"attempted": 1, "failed": 0, "metrics": {}}):
        with pytest.raises(ValueError):
            steady.parse_result(json.dumps(bad))


def test_steadiness_rule():
    vals = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]
    assert steady.spread(vals) == pytest.approx(0.025)
    metrics = [{"name": "run_s", "better": "lower", "bound": 0.1},
               {"name": "docs_per_s", "better": "higher", "bound": 0.1},
               {"name": "setup_s", "better": "lower", "bound": 0.25}]
    same = {"run_s": vals, "docs_per_s": vals, "setup_s": vals}
    slower = {"run_s": [v * 1.2 for v in vals],
              "docs_per_s": [v / 1.2 for v in vals],
              "setup_s": vals}
    ok = steady.judge([same, same], metrics)
    assert all(r["ok"] for r in ok.values())
    bad = steady.judge([same, slower], metrics)
    assert not bad["run_s"]["ok"] and not bad["docs_per_s"]["ok"]
    assert bad["setup_s"]["ok"]
    assert bad["run_s"]["shift"] == pytest.approx(0.2)
    wide = dict(same, setup_s=[1, 5, 1, 5, 3])
    assert not steady.judge([wide, wide], metrics)["setup_s"]["ok"]


def test_benchmark_json_lists_every_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = run.layer_metrics()
    assert [m["name"] for m in bench["per_layer"]] == list(spec)
    for m in bench["per_layer"]:
        assert (m["unit"], m["better"]) == spec[m["name"]]
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


@pytest.fixture(scope="module")
def tiny_docs(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("data"))
    return W.Docs("docs_small", gen.make_docs("docs_small", 3, root, TINY))


def test_generator_is_seeded_and_plants_exact_counts(tmp_path, tiny_docs):
    again = gen.make_docs("docs_small", 3, str(tmp_path), TINY)
    for name in os.listdir(tiny_docs.files):
        with open(os.path.join(tiny_docs.files, name), "rb") as a, \
                open(os.path.join(again, "files", name), "rb") as b:
            assert a.read() == b.read()
    planted = tiny_docs.manifest["planted"]
    assert len(planted["failure"]) == 2 and len(planted["needs_ocr"]) == 1
    corpus = gen.make_corpus("corpus_pretrain", 3, str(tmp_path), n_docs=40)
    a = pq.read_table(os.path.join(corpus, "source_a.parquet"))
    b = pq.read_table(os.path.join(corpus, "source_b.parquet"))
    assert a.num_rows == b.num_rows == 40
    with open(os.path.join(corpus, "manifest.json")) as f:
        planted = json.load(f)
    emb = pq.read_table(os.path.join(corpus, "embeddings.parquet"))
    vecs = emb.column("embedding").to_pylist()
    texts = a.column("text").to_pylist()
    assert planted["near_dups"] and planted["semantic_dups"]
    for j, i in planted["near_dups"]:
        assert texts[i] == texts[j] + " dup"
    for j, i in planted["semantic_dups"]:
        assert vecs[i] == vecs[j]
    words_a = {w for t in a.column("text").to_pylist() for w in t.split()}
    words_b = {w for t in b.column("text").to_pylist() for w in t.split()}
    assert not words_a & words_b      # salted replica: token-disjoint


def _write_ports(out, ports):
    for port, names in ports.items():
        os.makedirs(os.path.join(out, port))
        pq.write_table(pa.table({"filename": pa.array(names, pa.string())}),
                       os.path.join(out, port, "part-0.parquet"))


def _valid_ports(exp, planted):
    rows = [exp["success_files"][i % len(exp["success_files"])]
            for i in range(sum(exp[r] for r in W.ROUTES))]
    ports, at = {}, 0
    for r in W.ROUTES:
        ports[r], at = rows[at:at + exp[r]], at + exp[r]
    ports["failure"] = list(planted["failure"])
    ports["needs_ocr"] = list(planted["needs_ocr"])
    return ports


def test_docs_check_accepts_the_oracle_and_rejects_mistakes(tmp_path,
                                                            tiny_docs):
    exp = tiny_docs.expected()
    planted = tiny_docs.manifest["planted"]
    assert exp["failure"] == 2 and exp["needs_ocr"] == 1
    assert len(exp["success_files"]) == TINY["files"] - 3
    assert sum(exp[r] for r in W.ROUTES) > 0
    counts = {p: exp[p] for p in W.ROUTES + ("failure", "needs_ocr")}

    good = str(tmp_path / "good")
    _write_ports(good, _valid_ports(exp, planted))
    tiny_docs.check(counts, good)

    wrong = dict(counts, good=counts["good"] + 1)
    with pytest.raises(W.CheckFailed):
        tiny_docs.check(wrong, good)

    ports = _valid_ports(exp, planted)
    ports["needs_ocr"] = ports["needs_ocr"][:-1] + [exp["success_files"][0]]
    twice = str(tmp_path / "twice")
    _write_ports(twice, ports)
    with pytest.raises(W.CheckFailed):
        tiny_docs.check(counts, twice)


def test_corpus_check_recounts_tokens(tmp_path):
    from nifi_extracttext_processor_spark.operators.tokenize import (
        _PRETOKEN, bpe_encode_word,
    )

    merges = [("a", "b"), ("ab", "</w>")]
    ranks = {p: i for i, p in enumerate(merges)}
    texts = ["ab ab c", "cab", "b a"]
    n = [sum(len(bpe_encode_word(w, ranks)) for w in _PRETOKEN.findall(t))
         for t in texts]
    out = tmp_path / "shards"
    for shard, (i, t) in enumerate(zip([1, 2, 3], texts)):
        d = out / f"shard={shard}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": [i], "text": [t],
                                 "n_bpe_real": pa.array([n[shard]],
                                                        pa.int32())}),
                       d / "part-0.parquet")
    manifest = [{"shard": s, "n_docs": 1, "n_tokens": n[s]} for s in range(3)]
    c = W.Corpus.__new__(W.Corpus)
    c.manifest = {"near_dups": [[2, 5]], "semantic_dups": [[0, 4]]}
    c.rows, c.n_docs = {"benchmark": 1}, 8
    c.check({"manifest": manifest, "merges": merges}, str(out))
    bad = [dict(m) for m in manifest]
    bad[0]["n_tokens"] += 1
    with pytest.raises(W.CheckFailed):
        c.check({"manifest": bad, "merges": merges}, str(out))
    for planted in ({"near_dups": [[1, 3]], "semantic_dups": []},
                    {"near_dups": [], "semantic_dups": [[2, 3]]}):
        c.manifest = planted           # both documents of a pair kept
        with pytest.raises(W.CheckFailed):
            c.check({"manifest": manifest, "merges": merges}, str(out))
    c.manifest = {"near_dups": [], "semantic_dups": []}
    c.n_docs = 3                       # more shard docs than survivors
    with pytest.raises(W.CheckFailed):
        c.check({"manifest": manifest, "merges": merges}, str(out))
    c._check_cleaned({1, gen.REPLICA_OFFSET + 97})
    with pytest.raises(W.CheckFailed):  # a benchmark document leaked
        c._check_cleaned({1, 97})
    pq.write_table(pa.table({"doc_id": [1], "text": ["c"],
                             "n_bpe_real": pa.array([1], pa.int32())}),
                   out / "shard=0" / "part-1.parquet")
    with pytest.raises(W.CheckFailed):
        c.check({"manifest": manifest, "merges": merges}, str(out))


def test_run_fails_without_the_package(tmp_path):
    """Given only BENCHMARK.json and the benchmark's files, a run exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(
        "data", ".work", "results", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "docs_small",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
