"""The benchmark's workloads (fixed lists of registry queries), its lake
and the session environment every benchmark process runs in.

Two workloads, each the mechanism for some layers and the bypass for
the others: ``curate_lake`` never runs Python UDFs or driver loops,
``driver_udf`` never writes files or streams. Each run pays a fixed
25-30 s (session set-up plus two untimed warm-up passes, the first cold
and checked) before its timed window, so more workloads would leave too
short a window to average out the host's speed swings.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The generated lake: sf0.1 row counts, one fixed data seed. The run's
# --seed orders the queries; the data stays fixed so the expected
# fingerprints recorded against it stay valid.
LAKE_SF = 0.1
LAKE_SEED = 42


@dataclass(frozen=True)
class Workload:
    why: str
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    "curate_lake": Workload(
        "JVM-only curation SQL plus parquet/ORC round trips and an "
        "availableNow stream: job scheduling, shuffle, sources and "
        "streaming; no Python UDF, no driver loop",
        (
            "a1_pricing_summary",
            "e6_validation_report",
            "e8_publication_flatten",
            "d12_schema_merge",
            "s14_orc_roundtrip",
            "s17_streaming_sliding",
        ),
    ),
    "driver_udf": Workload(
        "driver loops (connected components, k-means Lloyd rounds: many "
        "small jobs, build-bound) plus detection replay and random-forest "
        "inference in Arrow/pandas UDFs",
        (
            "v15_dbscan_grid",
            "v5_kmeans_exact",
            "n31_osd_replay",
            "m16_rf_inference",
        ),
    ),
}


def default_lake() -> str:
    """Directory of the generated lake inside the benchmark's tree."""
    return os.path.join(HERE, ".lake", f"sf{LAKE_SF}-seed{LAKE_SEED}")


def resolve_lake() -> tuple[str, float | None]:
    """The lake dir and its scale factor: ``$SPARK_GRAFT_SF_DIR`` (scale
    factor not recorded) or the generated lake, written on first use in a
    child process, so the caller's set-up timing is unaffected."""
    env_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env_dir:
        return env_dir, None
    path = default_lake()
    if not os.path.isdir(path):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gendata.py"), path,
             "--sf", str(LAKE_SF), "--seed", str(LAKE_SEED)],
            check=True, stdout=subprocess.DEVNULL, timeout=600,
        )
    return path, LAKE_SF


def session_env(scratch: str, conf: dict[str, str]) -> tuple[int, str]:
    """Prepare this process's environment before Spark starts.

    Every temp, spill and warehouse path of the process, its JVM and its
    Python workers goes under ``scratch`` (the caller deletes it);
    workers import the package from the repo root whatever their cwd; the
    session gets every usable core (or ``$SPARK_GRAFT_CPUS``) and a driver
    heap of a quarter of physical memory, capped at 8 GiB. ``conf`` adds
    Spark settings. Returns (cores, driver memory).
    """
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = f"{max(1, min(8, int(mem_gib // 4)))}g"
    tmp, local = os.path.join(scratch, "tmp"), os.path.join(scratch, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_mem
    conf = {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        **conf,
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f'--conf "{k}={v}"' for k, v in conf.items()) + " pyspark-shell"
    return cores, driver_mem


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
