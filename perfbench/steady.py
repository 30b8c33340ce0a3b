"""Steadiness check: run every workload in ``BENCHMARK.json`` on ten
seeds, in two sets, and compare the spreads and medians with the bounds.

    python3 perfbench/steady.py

For each end-to-end metric of each workload it reports the spread of
each set (quartile distance over median, ``statistics.quantiles(n=4)``)
and how much worse the second set's median reads than the first's. A
metric passes when every spread is within its bound and the second
median is not worse by more than the bound. Runs go one at a time.
Results land in ``perfbench/results/steady.json``; the exit code is 1 if
any check fails or any run's outputs are wrong.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = 10          # runs per set, one seed each
SETS = 2
FIRST_SEED = 100    # set k uses seeds FIRST_SEED + k * SEEDS + 0..SEEDS-1


def parse_result(stdout: str) -> dict:
    """The result object on the last line of a run's stdout, validated."""
    lines = stdout.strip().splitlines()
    if not lines:
        raise ValueError("no output")
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1
            and isinstance(res["failed"], int)):
        raise ValueError("attempted / failed must be whole numbers")
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(
                m["value"], (int, float)):
            raise ValueError(f"metric {name}: {m}")
    return res


def spread(values: list[float]) -> float:
    """Quartile distance as a share of the median."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: list[float], second: list[float], better: str) -> float:
    """How much worse the second median reads, as a share of the first."""
    a, b = statistics.median(first), statistics.median(second)
    return (b - a) / a if better == "lower" else (a - b) / a


def judge(sets: list[dict[str, list[float]]], metrics: list[dict]) -> dict:
    """Per metric: spread of every set, second-vs-first shift, pass/fail."""
    out = {}
    for m in metrics:
        name, bound = m["name"], m["bound"]
        spreads = [spread(s[name]) for s in sets]
        shift = worse_by(sets[0][name], sets[-1][name], m["better"]) \
            if len(sets) > 1 else 0.0
        ok = shift <= bound and all(x <= bound for x in spreads)
        out[name] = {"bound": bound, "spreads": spreads, "shift": shift,
                     "medians": [statistics.median(s[name]) for s in sets],
                     "ok": ok}
    return out


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=180)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n"
                           + p.stderr[-2000:])
    return parse_result(p.stdout)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    report, failed = {}, False
    for wl in (w["name"] for w in bench["workloads"]):
        sets = []
        for k in range(SETS):
            vals: dict[str, list[float]] = {}
            for i in range(SEEDS):
                seed = FIRST_SEED + k * SEEDS + i
                res = run_once(bench, wl, seed)
                if not res["correct"]:
                    failed = True
                for name, m in res["metrics"].items():
                    vals.setdefault(name, []).append(m["value"])
                print(wl, seed, f"failed {res['failed']}/{res['attempted']}",
                      {n: round(v[-1], 4) for n, v in vals.items()},
                      flush=True)
            sets.append(vals)
        report[wl] = judge(sets, bench["end_to_end"])
        for name, r in report[wl].items():
            failed |= not r["ok"]
            print(f"{wl:16s} {name:12s} spreads "
                  + " ".join(f"{x:.4f}" for x in r["spreads"])
                  + f"  shift {r['shift']:+.4f}  bound {r['bound']}"
                  + ("" if r["ok"] else "  FAIL"), flush=True)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
