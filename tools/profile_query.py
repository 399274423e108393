"""Per-query profiler: separate plan-build/planning cost from execution
cost, count the Spark jobs and stages each side schedules, and dump
``explain("formatted")`` for plan-diff evidence.

Usage:
  python tools/profile_query.py q1 q2 ... [--sf SF_DIR] [--runs N]
      [--explain-dir DIR]

For each query prints one line:
  name  build_s  exec_s  build_jobs  build_stages  exec_jobs  exec_stages
  proc_starts

``build_s`` is the QUERIES[name].fn() call (plan construction; for
iterative operators this includes their driver-loop jobs, such as
bounded collects and census counts, exactly as bench.py charges them).
``exec_s`` is the noop write alone. The build and the write each run
under their own job group, so ``build_*`` counts the build's jobs and
``exec_*`` the write's. Times are the minimum over ``--runs``, counts
the minimum too: the first run may add a fresh read's schema job.
``proc_starts`` counts the driver JVM's ``jdk.ProcessStart`` events
over the build plus the write, read from a JFR recording of each run;
where the JVM has no libhadoop, Hadoop forks ``readlink`` or ``chmod``
for some local file operations. Each run line names the commands.
"""

from __future__ import annotations

import argparse
import collections
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def process_starts(jvm, fn):
    """Run ``fn`` under a JFR recording of ``jdk.ProcessStart``:
    (fn's result, Counter of started commands by program name)."""
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        out = fn()
    finally:
        rec.stop()
    fd, path = tempfile.mkstemp(suffix=".jfr")
    os.close(fd)
    jpath = jvm.java.io.File(path).toPath()
    try:
        rec.dump(jpath)
        events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(jpath)
        cmds = collections.Counter(
            os.path.basename(str(e.getString("command")).split(" ", 1)[0])
            for e in events)
    finally:
        rec.close()
        os.unlink(path)
    return out, cmds


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

    def grouped(group, fn):
        """Run ``fn`` under job group ``group``: (seconds, jobs, stages)."""
        sc.setJobGroup(group, group)
        try:
            t0 = time.time()
            out = fn()
            secs = time.time() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = st.getJobIdsForGroup(group) or []
        stages = sum(len(ji.stageIds) for ji in map(st.getJobInfo, jobs) if ji)
        return out, (secs, len(jobs), stages)

    print(f"{'query':32s} {'build_s':>8s} {'exec_s':>8s} {'build_jobs':>10s} "
          f"{'build_stages':>12s} {'exec_jobs':>9s} {'exec_stages':>11s} "
          f"{'proc_starts':>11s}")
    for name in args.queries:
        spec = QUERIES[name]
        sc.setJobDescription(f"profile:{name}")
        build, exe, procs = [], [], []
        for r in range(args.runs):
            def run():
                df, b = grouped(f"prof-{name}-{r}-build", lambda: spec.fn(spark, args.sf))
                _, e = grouped(f"prof-{name}-{r}-exec",
                               lambda: df.write.format("noop").mode("overwrite").save())
                return b, e
            (b, e), cmds = process_starts(sc._jvm, run)
            build.append(b)
            exe.append(e)
            procs.append(sum(cmds.values()))
            print(f"  run{r}: build {b[0]:7.3f} ({b[1]} jobs)  "
                  f"exec {e[0]:7.3f} ({e[1]} jobs)  "
                  f"procs {procs[-1]} {dict(cmds.most_common())}", flush=True)
            drop_persisted(spark)  # hygiene between runs (bench.py discipline)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = spec.fn(spark, args.sf)
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            drop_persisted(spark)
        (bs, bj, bst), (es, ej, est) = (
            [min(col) for col in zip(*runs)] for runs in (build, exe)
        )
        print(f"{name:32s} {bs:8.3f} {es:8.3f} {bj:10d} {bst:12d} {ej:9d} {est:11d} "
              f"{min(procs):11d}")
        sc.setJobDescription(None)
    return 0


if __name__ == "__main__":
    sys.exit(main())
