"""Bench variance protocol (VERDICT r3 task 1 / r4 task 1): run
bench.py N times in FRESH processes, aggregate per-query median /
min / max, and write BENCH_NOTES.md so per-round comparisons can
distinguish regression from run-to-run noise.

Usage:  python bench_variance.py [n_runs] [--round N]   (default 3)
Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like bench.py.

Each run ALSO archives the notes to BENCH_NOTES_r{NN}.md (round
number from --round, else inferred as max(BENCH_r*.json) + 1): the
protocol's decision rule compares MEDIANS across rounds, which only
works if prior-round medians survive — regenerating BENCH_NOTES.md
in place destroyed them through r6 (VERDICT r6 "What's wrong" #2).
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import subprocess
import sys


def _infer_round(repo_dir: str) -> int:
    """Current round = highest driver-recorded BENCH_r{N}.json + 1."""
    import glob
    import re
    rounds = [int(m.group(1)) for p in
              glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
              if (m := re.search(r"BENCH_r(\d+)\.json$", p))]
    return (max(rounds) + 1) if rounds else 1


def _archive_notes(rpath: str, lines: "list[str]", today: str) -> None:
    """Write the round archive WITHOUT destroying curated content: a
    fresh archive is written whole; an EXISTING one (a mid-round rerun
    — the r16 session lost hand-written band analysis to the old
    unconditional overwrite and had to restore it from git) gets the
    new measurement APPENDED as a dated section, headers dropped."""
    if not os.path.exists(rpath):
        with open(rpath, "w") as f:
            f.write("\n".join(lines))
        return
    with open(rpath, "a") as f:
        f.write(f"\n\n## regenerated measurement ({today}) — "
                "appended by bench_variance.py\n\n")
        # drop the leading title/blank lines BY CONTENT so the
        # appended section nests under the existing document — a
        # positional lines[2:] silently ate a real line whenever the
        # header block changed shape (ADVICE r16)
        body = list(lines)
        while body and (body[0].startswith("# ") or not body[0].strip()):
            body.pop(0)
        f.write("\n".join(body))


def main() -> None:
    argv = list(sys.argv[1:])
    round_no = None
    only = None
    if "--round" in argv:
        i = argv.index("--round")
        round_no = int(argv[i + 1])
        del argv[i:i + 2]
    split = False
    if "--split" in argv:
        # Split-session mode (VERDICT r15 task 3 — the band-defining
        # protocol from r16): each logical run executes bench.py once
        # PER frozen session slice (see bench.SESSION_BOUNDARIES), in
        # fresh processes, and the run record is the merged timings
        # with value = sum of session totals. The one-shot remains a
        # smoke number; cross-round bands compare split medians.
        argv.remove("--split")
        split = True
    if "--only" in argv:
        # Per-query fresh-session mode (drift adjudication, VERDICT r9
        # task 2): each run executes ONLY the named headliners, so a
        # query's standalone median is free of 45-query
        # session-composition effects. Prints the stats JSON with the
        # raw per-run records; does NOT touch BENCH_NOTES.md (the
        # full-session protocol's file).
        i = argv.index("--only")
        only = argv[i + 1]
        del argv[i:i + 2]
    n_runs = int(argv[0]) if argv else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            "/root/testdata/sf0.1")
    runs: list[dict] = []
    for i in range(n_runs):
        print(f"=== run {i + 1}/{n_runs} (fresh process) ===",
              file=sys.stderr)
        env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir}
        if only:
            env["SPARK_GRAFT_ONLY"] = only
        cwd = os.path.dirname(os.path.abspath(__file__))
        if split:
            import bench as _bench
            merged: dict = {"metric": "headline_queries_total_wall",
                            "unit": "sec", "queries": {}, "value": 0.0,
                            "sessions": []}
            for k in range(len(_bench.session_slices())):
                senv = {**env, "SPARK_GRAFT_SESSION": str(k)}
                out = subprocess.run(
                    [sys.executable, "bench.py"],
                    capture_output=True, text=True, check=True,
                    env=senv, cwd=cwd)
                rec = json.loads(out.stdout.strip().splitlines()[-1])
                merged["queries"].update(rec["queries"])
                merged["value"] = round(merged["value"] + rec["value"],
                                        3)
                merged["sessions"].append(rec["value"])
                merged["sf"] = rec["sf"]
            runs.append(merged)
        else:
            out = subprocess.run(
                [sys.executable, "bench.py"],
                capture_output=True, text=True, check=True,
                env=env, cwd=cwd)
            runs.append(json.loads(out.stdout.strip().splitlines()[-1]))

    names = list(runs[0]["queries"])
    stats = {}
    for q in names:
        vals = sorted(r["queries"][q] for r in runs)
        med = statistics.median(vals)
        spread_pct = (100.0 * (vals[-1] - vals[0]) / med) if med else 0.0
        stats[q] = {"median": round(med, 3), "min": vals[0],
                    "max": vals[-1], "spread_pct": round(spread_pct, 1)}
    totals = sorted(r["value"] for r in runs)
    med_total = statistics.median(totals)

    today = datetime.date.today().isoformat()
    lines = [
        "# BENCH_NOTES — run-to-run variance protocol",
        "",
        f"Last measured: {today}, {n_runs} fresh-process runs of "
        f"`bench.py` at `{sf_dir}` "
        f"(local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]).",
        "",
        ("**Protocol**: SPLIT-SESSION (band-defining since r16 — "
         "VERDICT r15 task 3): each logical run executes one fresh "
         "`python bench.py` process PER frozen session slice "
         "(bench.SESSION_BOUNDARIES; session A = HEADLINE[:29] stays "
         "byte-stable across rounds, appends go to the last session) "
         "and sums the session totals. "
         if split else
         "**Protocol**: each run is a separate `python bench.py` "
         "process (ONE-SHOT; since r16 this is a smoke number only — "
         "the band-defining measurement is `--split`). ")
        + "Cold JVM, cold Spark session; OS page cache shared across"
        " runs. Per-query spread% = (max-min)/median over the runs. A"
        " cross-round delta on any query is NOISE, not"
        " regression/improvement, unless it exceeds that query's"
        " spread band.",
        "",
        f"**Total wall**: median {round(med_total, 2)} s, min "
        f"{totals[0]} s, max {totals[-1]} s "
        f"(spread {round(100 * (totals[-1] - totals[0]) / med_total, 1)}"
        "% of median).",
        "",
        "| query | median s | min | max | spread % |",
        "|---|---|---|---|---|",
    ]
    for q in names:
        s = stats[q]
        lines.append(f"| {q} | {s['median']} | {s['min']} | {s['max']} "
                     f"| {s['spread_pct']} |")
    worst = max(stats.values(), key=lambda s: s["spread_pct"])
    worst_q = [q for q, s in stats.items() if s is worst][0]
    lines += [
        "",
        f"Worst per-query spread this measurement: `{worst_q}` at "
        f"{worst['spread_pct']}%. Queries under ~1 s are dominated by "
        "fixed per-query overhead (job scheduling, first-touch scan) "
        "and swing the most in relative terms.",
        "",
        "Raw per-run JSON:",
        "",
        "```json",
        *[json.dumps(r) for r in runs],
        "```",
        "",
    ]
    if only:
        print(json.dumps({
            "metric": "standalone_query_medians",
            "only": only, "n_runs": n_runs,
            "queries": {q: s["median"] for q, s in stats.items()},
            "spread_pct": {q: s["spread_pct"]
                           for q, s in stats.items()},
            "runs": runs,
        }))
        return

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH_NOTES.md")
    # preserve any manually-maintained analysis below the marker
    marker = "<!-- manual notes below: preserved across regeneration -->"
    manual = ""
    if os.path.exists(path):
        prev = open(path).read()
        if marker in prev:
            manual = prev[prev.index(marker):]
    with open(path, "w") as f:
        f.write("\n".join(lines))
        if manual:
            f.write("\n" + manual)
    print(f"wrote {path}", file=sys.stderr)
    # per-round archive so cross-round median comparisons stay possible
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    rn = round_no if round_no is not None else _infer_round(repo_dir)
    rpath = os.path.join(repo_dir, f"BENCH_NOTES_r{rn:02d}.md")
    _archive_notes(rpath, lines, today)
    print(f"archived {rpath}", file=sys.stderr)
    # machine-readable single line (same contract style as bench.py)
    print(json.dumps({
        "metric": "headline_queries_total_wall_median",
        "value": round(med_total, 3), "unit": "sec",
        "n_runs": n_runs,
        "queries": {q: s["median"] for q, s in stats.items()},
        "spread_pct": {q: s["spread_pct"] for q, s in stats.items()},
    }))


if __name__ == "__main__":
    main()
