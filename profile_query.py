"""Per-query stage profiler: wall + per-stage executor run/CPU time
and shuffle bytes from the Spark event log (guide §1 "measure first").

Usage:  python profile_query.py <headliner> [sf_dir]

Runs ONE bench headliner (same warmups, same noop-sink forcing as
bench.py) with the event log enabled, then prints the stage table the
optimization rounds adjudicate from:

- sum_cpu (executorCpuTime) is the steal-robust cost signal — wall
  and even executorRunTime swing 2-3x with host contention on the
  sandbox VMs (BENCH_NOTES_r16 "Measurement environment"), while CPU
  sums stay comparable across runs;
- run/cpu per stage >> 1 on a compute stage = memory stall / steal,
  not plan cost;
- a 32-task stage with ~2 s run per task and ~zero CPU is Python
  worker WAIT (executor metrics cannot see worker CPU) — bench.warm_up
  runs first so that cost is not charged to the first profiled
  query's Python stage;
- tasks=1 on a scan stage = single-row-group parquet input (the
  `_spread` adjudications in OPTIMIZATION_r16.md start from this).

This is driver-side tooling only — never imported by operators and
not part of any timed path. The bench contract (one JSON line from
bench.py) is untouched.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time


def profile(query: str, sf_dir: str) -> None:
    evdir = f"/tmp/evlog_{query}"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)

    import bench
    from nifi_extracttext_processor_spark.session import get_spark

    # resolve the query BEFORE the session spins up: a typo'd name
    # otherwise costs ~15 s of JVM + warmups before the KeyError
    # (ADVICE r16)
    qs = __import__("__spark_entry__").queries()
    if bench.LOCAL.get(query) is None and query not in qs:
        raise SystemExit(f"unknown query {query!r} — not a bench LOCAL "
                         f"or a registered entry query")

    spark = get_spark("profile", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        # the events_* glob below is the rolling-v2 layout — pin it
        # explicitly rather than relying on the version default
        # (ADVICE r16)
        "spark.eventLog.rolling.enabled": "true",
        # zstd-compressed rolling logs need a decoder; plain JSON keeps
        # this script stdlib-only
        "spark.eventLog.compress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")

    # JVM codegen + the per-core Python worker pool are session costs,
    # not query costs
    bench.warm_up(spark)
    spark.sparkContext.setJobDescription(query)
    t0 = time.perf_counter()
    with bench.built(bench.LOCAL.get(query) or qs[query], spark,
                     sf_dir) as df:
        bench.force(df)
        wall = time.perf_counter() - t0
    spark.stop()

    run = cpu = sh_w = 0.0
    stages = []
    paths = glob.glob(f"{evdir}/**/events_*", recursive=True)
    if not paths:
        raise SystemExit(
            f"no event-log files under {evdir} — the rolling-v2 "
            "events_* layout was not produced; check the Spark "
            "version/eventLog configs (ADVICE r16)")
    for path in paths:
        for line in open(path):
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            if ev.get("Event") != "SparkListenerStageCompleted":
                continue
            si = ev["Stage Info"]
            acc = {a["Name"]: a.get("Value", 0)
                   for a in si.get("Accumulables", [])}
            r = acc.get("internal.metrics.executorRunTime", 0) / 1e3
            c = acc.get("internal.metrics.executorCpuTime", 0) / 1e9
            w = acc.get("internal.metrics.shuffle.write.bytesWritten", 0)
            run += r
            cpu += c
            sh_w += w
            stages.append((si["Stage ID"], si["Number of Tasks"],
                           round(r, 1), round(c, 1), round(w / 1e6, 1)))
    print(f"QUERY {query}: wall={wall:.2f}s stages={len(stages)} "
          f"sum_run={run:.1f} core-s sum_cpu={cpu:.1f} core-s "
          f"shuffle_w={sh_w / 1e6:.1f}MB")
    print("top stages by CPU (sid, tasks, run_s, cpu_s, shW_MB) — the"
          " low-sid rows are the session warmups, not the query:")
    for s in sorted(stages, key=lambda s: -s[3])[:12]:
        print("  ", s)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    profile(sys.argv[1],
            sys.argv[2] if len(sys.argv) > 2
            else os.environ.get("SPARK_GRAFT_SF_DIR",
                                "/root/testdata/sf0.1"))
