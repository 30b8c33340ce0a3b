"""Dump `explain("formatted")` for bench headliners to plans/rNN/.

Usage: python dump_plan.py <round_dir> <suffix> <query> [query...]
e.g.   python dump_plan.py r17 before ab_bootstrap_ci llm_pretrain

Driver-side tooling only (like profile_query.py): builds each query's
DataFrame without executing it and writes the formatted physical plan
to plans/<round_dir>/<query>_<suffix>.txt. llm_pretrain is the
exception: building it runs the whole pretraining plan and writes its
shards (to a scratch directory removed afterwards), so its dumped plan
is the manifest read back from those shards, not the pipeline.
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    rdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from nifi_extracttext_processor_spark.session import get_spark

    spark = get_spark("dump_plan")
    spark.sparkContext.setLogLevel("ERROR")
    qs = __import__("__spark_entry__").queries()
    out_dir = os.path.join("plans", rdir)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        with bench.built(bench.LOCAL.get(name) or qs[name], spark,
                         sf_dir) as df:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
