"""Per-query profiler: separate plan-build/planning cost from execution
cost, count the Spark jobs+stages one noop-sink run schedules, and dump
``explain("formatted")`` for plan-diff evidence.

Usage:
  python tools/profile_query.py q1 q2 ... [--sf SF_DIR] [--runs N]
      [--explain-dir DIR]

For each query prints one line:
  name  build_s  exec_s(min of N)  jobs  stages  tasks

``build_s`` is the QUERIES[name].fn() call (plan construction; for
iterative operators this includes their driver-loop jobs, such as
bounded collects and census counts, exactly as bench.py charges them). ``exec_s`` is the noop write alone.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    args = ap.parse_args()

    from openseizuredatabase_spark.lineage import drop_persisted
    from openseizuredatabase_spark.plans.registry import QUERIES
    from openseizuredatabase_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    spark = get_spark("profile")
    spark.range(1000).count()
    sc = spark.sparkContext
    st = sc.statusTracker()

    print(f"{'query':32s} {'build_s':>8s} {'exec_s':>8s} {'jobs':>5s} "
          f"{'stages':>7s}")
    for name in args.queries:
        spec = QUERIES[name]
        sc.setJobDescription(f"profile:{name}")
        best_exec = None
        build_s = None
        for r in range(args.runs):
            t0 = time.time()
            df = spec.fn(spark, args.sf)
            t1 = time.time()
            sc.setJobGroup(f"prof-{name}-{r}", name)
            t2 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
            jobs = st.getJobIdsForGroup(f"prof-{name}-{r}") or []
            n_stages = 0
            for j in jobs:
                ji = st.getJobInfo(j)
                if ji is not None:
                    n_stages += len(ji.stageIds)
            if build_s is None or (t1 - t0) < build_s:
                build_s = t1 - t0
            if best_exec is None or (t3 - t2) < best_exec:
                best_exec = t3 - t2
                best_jobs, best_stages = len(jobs), n_stages
            print(f"  run{r}: build {t1 - t0:7.3f}  exec {t3 - t2:7.3f}",
                  flush=True)
            drop_persisted(spark)  # hygiene between runs (bench.py discipline)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = spec.fn(spark, args.sf)
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            drop_persisted(spark)
        print(f"{name:32s} {build_s:8.3f} {best_exec:8.3f} "
              f"{best_jobs:5d} {best_stages:7d}")
        sc.setJobDescription(None)
    return 0


if __name__ == "__main__":
    sys.exit(main())
