"""Measure where training k-means on the driver stops paying: time
``functions/ann.kmeans_exact`` (k=8, iters=2, as v5 calls it) on
synthetic 64-dim embeddings with each path forced, one fresh process
per (rows, path), and report peak memory.

    SPARK_DRIVER_MEMORY=4g python tools/kmeans_crossover.py \\
        --dir /tmp/kmeans_crossover --rows 2000 20000 60000 200000 600000

Paths: ``driver`` (cap = rows), ``distributed`` (cap = -1) and
``default`` (the module cap as committed, so above it the failed gate's
bounded collect is paid too). Each run builds the query and runs one
action on both outputs, as the callers do: one warm-up, then the median
of ``--reps``. One JSON line per run: ``wall_s``, and VmHWM in MiB of
the Python driver, the JVM and their sum (the benchmark ledger's
``driver.peak_rss_mb``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIM = 64


def _vmhwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _write_embeddings(path: str, rows: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(rows)
    flat = rng.normal(0.0, 0.3, rows * DIM).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, rows * DIM + 1, DIM, dtype=np.int32)), flat
    )
    pq.write_table(
        pa.table({"vec_id": np.arange(rows, dtype=np.int64), "embedding": emb}),
        path,
    )


def _run(path: str, rows: int, mode: str, reps: int) -> dict:
    sys.path.insert(0, ROOT)
    from openseizuredatabase_spark.functions import ann
    from openseizuredatabase_spark.session import get_spark

    spark = get_spark("kmeans_crossover")
    if mode != "default":
        ann._KMEANS_DRIVER_ROW_CAP = rows if mode == "driver" else -1
    emb = spark.read.parquet(path)

    def once() -> float:
        t0 = time.perf_counter()
        assign, cents = ann.kmeans_exact(emb, k=8, iters=2, quant=1000)
        assign.groupBy("cid").count().collect()
        cents.collect()
        return time.perf_counter() - t0

    once()
    wall = statistics.median(once() for _ in range(reps))
    py = _vmhwm_mb(os.getpid())
    jvm = _vmhwm_mb(spark.sparkContext._gateway.proc.pid)
    return {"rows": rows, "path": mode, "wall_s": round(wall, 3),
            "python_mb": round(py), "jvm_mb": round(jvm),
            "peak_rss_mb": round(py + jvm)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dir", required=True, help="where the inputs go")
    ap.add_argument("--rows", type=int, nargs="+",
                    default=[2000, 20000, 60000, 200000, 600000])
    ap.add_argument("--paths", nargs="+", default=["driver", "distributed"],
                    choices=["driver", "distributed", "default"])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--one", nargs=2, help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.one:
        print(json.dumps(_run(a.one[0], a.rows[0], a.one[1], a.reps)))
        return
    os.makedirs(a.dir, exist_ok=True)
    for rows in a.rows:
        path = os.path.join(a.dir, f"emb_{rows}.parquet")
        if not os.path.exists(path):
            _write_embeddings(path, rows)
        for mode in a.paths:
            out = subprocess.run(
                [sys.executable, __file__, "--dir", a.dir, "--rows", str(rows),
                 "--reps", str(a.reps), "--one", path, mode],
                capture_output=True, text=True, check=True,
            ).stdout
            print(out.strip().splitlines()[-1], flush=True)


if __name__ == "__main__":
    main()
