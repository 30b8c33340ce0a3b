"""Outside-in benchmark of the document flow and the corpus pipeline.

    python3 perfbench/run.py --workload docs_small --seed 1 --seconds 28 --trace 0

Run from the repository root. One run:

1. generates the workload's inputs from ``--seed`` (cached under
   ``perfbench/data/``) and, for documents, the expected outputs; none of
   this is timed;
2. sets Spark up once: ``session.get_spark``, which launches the JVM,
   plus a warm-up that runs a JVM job and starts a Python worker on every
   core; ``setup_s`` is the time of both;
3. runs the workload once unchecked as a warm-up pass (the first pass in
   a fresh JVM takes about twice as long), then runs it while the next
   run is expected to end within ``--seconds`` (at least once), checking
   every run's outputs; the end-to-end metrics are medians over these
   runs;
4. with ``--trace 1``, also runs one traced pass (a span around every
   public call, Spark jobs grouped by span), one attribution pass (layer
   costs from successive prefixes of the same plan) and the serial format
   kernels, and writes spans and layer metrics to ``perfbench/results/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The lines above it print each
metric with its unit and sample count, and ``fail_ratio``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("docs_small", "corpus_pretrain")
# a small, fixed executor: the benchmark shares its machine
CPUS = max(1, min(4, len(os.sched_getaffinity(0))))


def _environment(work: str) -> dict[str, str]:
    """Keep every file Spark and its workers write inside ``work``, and
    size the local executor. Returns the extra Spark conf."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher too: temp files in ``work``
        # and no hsperfdata file under the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} "
                             f"-Dderby.system.home={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
    })
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the status store must keep every job of a traced run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _echo(batches):
    yield from batches


def set_up(conf: dict) -> tuple[object, float, float]:
    """``session.get_spark`` plus the warm-up; returns (spark, start_s,
    warmup_s)."""
    from nifi_extracttext_processor_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 16).selectExpr("sum(id)").collect()
    spark.range(4 * CPUS, numPartitions=CPUS) \
        .mapInArrow(_echo, "id long").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def shut_down(spark) -> None:
    """Stop Spark, end the JVM (and with it the Python workers) and wait
    until every process this run started has exited."""
    from pyspark import SparkContext

    from perfbench import meters

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [p for p in meters.snapshot() if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def reset(spark) -> None:
    """Drop what one run cached, so the next run starts from the same
    state (the flow leaves its fan-out cache for the caller to drop)."""
    from nifi_extracttext_processor_spark.operators import lifecycle

    lifecycle.release_all(blocking=True)
    spark.catalog.clearCache()


def timed_runs(spark, wl, seconds: float, work: str, log) -> dict:
    """Run the workload, checking each run's outputs, for as long as the
    next run is expected to end within ``seconds`` (at least once). Per
    run: wall, process-tree CPU split and resident-memory high-water."""
    from perfbench import meters

    runs, attempted, failed, last = [], 0, 0, 0.0
    t_start = time.perf_counter()
    while attempted == 0 or \
            time.perf_counter() - t_start + last <= seconds:
        out = os.path.join(work, f"out{attempted}")
        attempted += 1
        t0 = time.perf_counter()
        try:
            meters.reset_peaks(meters.snapshot())
            c0 = meters.cpu_split(meters.snapshot())
            t0 = time.perf_counter()
            result = wl.run(spark, out)
            wall = time.perf_counter() - t0
            tree = meters.snapshot()
            c1 = meters.cpu_split(tree)
            peak = meters.peak_rss(tree)
            wl.check(result, out)
            runs.append({"run_s": wall, "peak_rss_mb": peak / 1e6,
                         **{k: c1[k] - c0[k] for k in c0}})
        except Exception:  # a failed run counts against fail_ratio
            failed += 1
            traceback.print_exc(file=log)
        finally:
            last = time.perf_counter() - t0
            shutil.rmtree(out, ignore_errors=True)
            reset(spark)
    return {"runs": runs, "attempted": attempted, "failed": failed}


def end_to_end(setup, timed, n_docs) -> dict:
    med = lambda k: statistics.median(r[k] for r in timed["runs"])  # noqa
    run_s = med("run_s")
    return {
        "setup_s": (sum(setup), "s"),
        "run_s": (run_s, "s"),
        "docs_per_s": (n_docs / run_s, "1/s"),
        "cpu_s": (med("total"), "s"),
    }


def layer_metrics() -> dict[str, tuple[str, str]]:
    """Name -> (unit, better) of every per-layer metric, in report order."""
    from perfbench import workloads as W

    unit = {"s": "s", "executor_cpu_s": "s", "pyworker_cpu_s": "s",
            "gc_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
            "tasks": "count", "jobs": "count", "stages": "count"}
    m = {n: ("s", "lower") for n in (
        "session.start_s", "session.warmup_s", "process.jvm_cpu_s",
        "process.pyworker_cpu_s")}
    m["process.peak_rss_mb"] = ("MB", "lower")
    m.update({n: ("s", "lower") for n in (
        "trace.run_s", "trace.overhead_s", "sources.scan_s")})
    m["sources.tasks"] = ("count", "lower")
    m["sources.files_per_task"] = ("files/task", "higher")
    m["sources.scan_passes_per_file"] = ("ratio", "lower")
    m["formats.extract_s"] = ("s", "lower")
    m.update({f"formats.extract_s{e}": ("s", "lower") for e in W.FORMATS})
    m["formats.extract_mb_per_s"] = ("MB/s", "higher")
    m["formats.errors"] = ("count", "lower")
    for stage in W.FLOW_STAGES + W.CORPUS_STAGES:
        m.update({f"operators.{stage}.{k}": (unit[k], "lower")
                  for k in W.STAGE_KEYS})
    for plan in ("flow", "llm_pretrain"):
        m.update({f"plans.{plan}.{k}": (unit[k], "lower")
                  for k in W.PLAN_KEYS})
    m.update({f"plans.llm_pretrain.{p}_s": ("s", "lower") for p in W.PHASES})
    m["sinks.write_s"] = ("s", "lower")
    m["sinks.out_mb"] = ("MB", "lower")
    m["sinks.files"] = ("count", "lower")
    return m


def per_layer(spark, wl, setup, timed, serial, work, run_id) -> tuple:
    """Every per-layer metric; a layer the workload does not run reads 0.
    Returns (metrics, span-file extras, tracer)."""
    from perfbench import meters, workloads as W
    from perfbench.trace import Tracer

    store = meters.StatusStore(spark)
    is_docs = isinstance(wl, W.Docs)
    med = lambda k: statistics.median(r[k] for r in timed["runs"])  # noqa
    v = {"session.start_s": setup[0], "session.warmup_s": setup[1],
         "process.jvm_cpu_s": med("jvm"),
         "process.pyworker_cpu_s": med("pyworker"),
         "process.peak_rss_mb": med("peak_rss_mb")}

    # traced pass: spans around public calls, jobs grouped by span
    tracer = Tracer(f"{run_id}-traced", spark)
    out = os.path.join(work, "traced")
    t0 = time.perf_counter()
    wl.traced(spark, out, tracer)
    traced_s = time.perf_counter() - t0
    groups = {g: store.group(g) for g in sorted(tracer.groups())}
    plan = {k: sum(g[k] for g in groups.values()) for k in
            W.PLAN_KEYS + ("input_records", "scan_tasks")}
    v["sinks.out_mb"], v["sinks.files"] = W.dir_stats(out)
    v["sinks.write_s"] = tracer.total(
        "sinks.write_files" if is_docs else "sinks.write_corpus_shards")
    shutil.rmtree(out, ignore_errors=True)
    reset(spark)

    # an untraced run after the traced one: the JVM is still warming, so
    # the overhead compares the traced pass with the untraced runs around it
    out = os.path.join(work, "after")
    t0 = time.perf_counter()
    wl.run(spark, out)
    after_s = time.perf_counter() - t0
    shutil.rmtree(out, ignore_errors=True)
    reset(spark)

    # attribution pass: layer costs from successive prefixes
    out = os.path.join(work, "attr")
    stages = wl.attribute(spark, store, f"{run_id}-attr", out)
    shutil.rmtree(out, ignore_errors=True)
    reset(spark)

    v["trace.run_s"] = traced_s
    v["trace.overhead_s"] = traced_s - (med("run_s") + after_s) / 2
    v["sources.scan_s"] = stages["sources"]["s"]
    v["sources.tasks"] = plan["scan_tasks"]
    v["sources.files_per_task"] = (plan["input_records"]
                                   / max(plan["scan_tasks"], 1))
    v["sources.scan_passes_per_file"] = plan["input_records"] / wl.n_inputs

    per_fmt = serial["per_fmt"] if serial else dict.fromkeys(W.FORMATS, 0.0)
    v["formats.extract_s"] = sum(per_fmt.values())
    v.update({f"formats.extract_s{e}": t for e, t in per_fmt.items()})
    v["formats.extract_mb_per_s"] = (serial["mb"] / v["formats.extract_s"]
                                     if serial else 0.0)
    v["formats.errors"] = serial["errors"] if serial else 0

    for stage in W.FLOW_STAGES + W.CORPUS_STAGES:
        for k in W.STAGE_KEYS:
            v[f"operators.{stage}.{k}"] = stages.get(stage, {}).get(k, 0)
    for name in ("flow", "llm_pretrain"):
        mine = (name == "flow") == is_docs
        for k in W.PLAN_KEYS:
            v[f"plans.{name}.{k}"] = plan[k] if mine else 0
    for phase in W.PHASES:
        v[f"plans.llm_pretrain.{phase}_s"] = tracer.wall(
            f"plans.llm_pretrain.{phase}")

    spec = layer_metrics()
    if set(v) != set(spec):
        raise RuntimeError(f"per-layer metrics differ from layer_metrics(): "
                           f"{sorted(set(v) ^ set(spec))}")
    metrics = {n: (v[n], unit) for n, (unit, _b) in spec.items()}
    extras = {"groups": groups, "stages": stages,
              "untraced_run_s": [med("run_s"), after_s]}
    return metrics, extras, tracer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fail before any work when the package or its fixtures are missing
    import nifi_extracttext_processor_spark  # noqa: F401
    import tests.fixtures.builders  # noqa: F401

    from perfbench import gen, workloads as W

    work = os.path.join(HERE, ".work", str(os.getpid()))
    conf = _environment(work)
    log = sys.stderr
    t_main = time.perf_counter()

    def note(what: str) -> None:
        print(f"[perfbench {time.perf_counter() - t_main:7.1f}s] {what}",
              file=log, flush=True)

    data = gen.make(args.workload, args.seed)
    wl = (W.Docs if args.workload in gen.DOC_SHAPES else W.Corpus)(
        args.workload, data)
    serial = None
    if isinstance(wl, W.Docs):
        serial = wl.extract_serial()
        wl.expected(serial)
    note("inputs ready")

    spark = None
    try:
        spark, *setup = set_up(conf)
        note("set-up done")
        # the first pass in a fresh JVM takes about twice as long
        wl.run(spark, os.path.join(work, "warm"))
        shutil.rmtree(os.path.join(work, "warm"), ignore_errors=True)
        reset(spark)
        note("warm-up pass done")
        timed = timed_runs(spark, wl, args.seconds, work, log)
        note(f"{timed['attempted']} timed runs done")
        attempted, failed = timed["attempted"], timed["failed"]
        if not timed["runs"]:
            print("every timed run failed", file=log)
            return 1
        if args.trace:
            run_id = f"{args.workload}-{args.seed}"
            metrics, extras, tracer = per_layer(
                spark, wl, setup, timed, serial, work, run_id)
            os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
            tracer.dump(os.path.join(HERE, "results", f"trace-{run_id}.json"),
                        {"metrics": metrics, **extras})
            attempted += 1
        else:
            metrics = end_to_end(setup, timed, wl.n_docs)
    finally:
        shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)
        note("shut down")

    n = len(timed["runs"])
    for name, (value, unit) in metrics.items():
        print(f"{args.workload:16s} {name:42s} {value:14.6g} {unit:10s} "
              f"(median of {n} runs)" if not args.trace else
              f"{args.workload:16s} {name:42s} {value:14.6g} {unit}")
    print(f"{args.workload:16s} {'fail_ratio':42s} {failed / attempted:14.6g}"
          f" ratio      ({failed} of {attempted} runs)")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
