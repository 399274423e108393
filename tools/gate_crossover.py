"""Measure where a driver-side gate stops paying: time the gated
operator on synthetic input with each path forced, one fresh process
per (gate, size, shape, path) cell, and report peak memory.

    SPARK_DRIVER_MEMORY=4g python tools/gate_crossover.py --gate kmeans \\
        --dir /tmp/crossover --sizes 2000 20000 60000 200000 600000
    SPARK_DRIVER_MEMORY=4g python tools/gate_crossover.py --gate pq \\
        --dir /tmp/crossover --sizes 2000 3750 20000 60000 200000 600000
    python tools/gate_crossover.py --gate cc --dir /tmp/crossover \\
        --sizes 10000 100000 1000000 2000000 --shapes chain forest
    python tools/gate_crossover.py --gate dbscan --dir /tmp/crossover \\
        --sizes 2000 20000 200000 1000000

Gates, the size they count and what runs:

- ``kmeans``: vectors; ``functions/ann.kmeans_exact`` (k=8, iters=2, as
  v5 calls it) on 64-dim normal embeddings; the cap is
  ``ann._KMEANS_DRIVER_ROW_CAP``.
- ``pq``: vectors; ``functions/ann.pq_train_encode`` in v8's shape
  (``n_sub=16``, ``k_sub=32``, iters=2) on the same embeddings; its
  gate is the k-means cap divided by ``n_sub``.
- ``cc``: edges; ``operators/dedup.connected_components`` on a
  ``chain`` (one path through randomly numbered nodes, the eps-chain
  shape) or a ``forest`` (random trees of 100 nodes); the cap is
  ``dedup._CC_DRIVER_EDGE_CAP``.
- ``dbscan``: points; v15's grid DBSCAN (``q_vector._v15_dbscan``) on
  uniform 2-D integer points at the sf0.1 lake's density (mean degree
  12 within eps); it shares ``dedup._CC_DRIVER_EDGE_CAP``, which gates
  both its point collect and its grid candidate pairs (reported as
  ``candidates``).

Paths: ``driver`` (cap at the input size, times n_sub for pq; for dbscan
the largest cap a Spark limit takes), ``distributed`` (cap = -1) and
``default`` (the module cap as committed, so above it the failed gate's
bounded collect is paid too). Each run builds the query and runs one action on every
output, as the callers do: one warm-up, then the median of ``--reps``.
One JSON line per run: ``wall_s``; ``gate_s``, the part of it spent in
the gate's own bounded collect (above the cap on the ``default`` path,
what the failed gate costs); and VmHWM in MiB of the Python driver, the
JVM and their sum (the benchmark ledger's ``driver.peak_rss_mb``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIM = 64
# the largest cap bounded_collect can pass to a Spark limit (an int)
SPARK_LIMIT_CAP = 2**31 - 2
PQ_SUBS = 16  # v8's n_sub


def _vmhwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _write_embeddings(path: str, size: int, shape: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(size)
    flat = rng.normal(0.0, 0.3, size * DIM).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, size * DIM + 1, DIM, dtype=np.int32)), flat
    )
    pq.write_table(
        pa.table({"vec_id": np.arange(size, dtype=np.int64), "embedding": emb}),
        path,
    )


def _write_edges(path: str, size: int, shape: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(size)
    ids = rng.permutation(size + 1).astype(np.int64)
    if shape == "chain":
        a, b = ids[:-1], ids[1:]
    else:
        # node i > 0 of each 100-node tree hangs off a random earlier node
        i = np.arange(size + 1)
        child = i[i % 100 != 0]
        parent = child - 1 - (rng.random(len(child)) * (child % 100)).astype(np.int64)
        a, b = ids[child], ids[parent]
    pq.write_table(pa.table({"id_a": a, "id_b": b}), path)


def _v15_density_side(size: int) -> int:
    """Side of the square that holds ``size`` uniform points at mean
    degree 12 within eps: size * pi * eps^2 / side^2 = 12."""
    from openseizuredatabase_spark.plans.q_vector import _V15_EPS6

    return int(math.sqrt(size * math.pi * _V15_EPS6**2 / 12))


def _write_points(path: str, size: int, shape: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(size)
    side = _v15_density_side(size)
    pq.write_table(
        pa.table({
            "vec_id": np.arange(size, dtype=np.int64),
            "x": rng.integers(0, side, size, dtype=np.int64),
            "y": rng.integers(0, side, size, dtype=np.int64),
        }),
        path,
    )


def _candidates(path: str) -> int:
    """v15's grid candidate pairs for the points at ``path``."""
    import pyarrow.parquet as pq

    from openseizuredatabase_spark.plans import q_vector as qv

    t = pq.read_table(path)
    cx, cy = (t.column(c).to_numpy() // qv._V15_EPS6 for c in ("x", "y"))
    return qv._v15_candidates(*qv._v15_cells(cx, cy)[2:])


WRITERS = {
    "kmeans": _write_embeddings,
    "pq": _write_embeddings,
    "cc": _write_edges,
    "dbscan": _write_points,
}


def _run(gate: str, path: str, size: int, mode: str, reps: int) -> dict:
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from openseizuredatabase_spark.functions import ann
    from openseizuredatabase_spark.operators import dedup
    from openseizuredatabase_spark.plans import q_vector
    from openseizuredatabase_spark.session import get_spark

    spark = get_spark("gate_crossover")
    df = spark.read.parquet(path)
    if gate in ("kmeans", "pq"):
        mod, name = ann, "_KMEANS_DRIVER_ROW_CAP"
        outputs = lambda: [
            o.agg(F.count(F.lit(1)))
            for o in (
                ann.kmeans_exact(df, k=8, iters=2, quant=1000)
                if gate == "kmeans"
                else ann.pq_train_encode(df, n_sub=PQ_SUBS, k_sub=32, dim=DIM)
            )
        ]
    else:
        mod, name = dedup, "_CC_DRIVER_EDGE_CAP"
        op = dedup.connected_components if gate == "cc" else q_vector._v15_dbscan
        outputs = lambda: [op(df).agg(F.count(F.lit(1)))]
    if mode != "default":
        driver_cap = {"dbscan": SPARK_LIMIT_CAP, "pq": size * PQ_SUBS}.get(gate, size)
        setattr(mod, name, driver_cap if mode == "driver" else -1)
    # time the gate's own bounded collect inside the module that calls it
    gate_mod = {"kmeans": ann, "pq": ann, "cc": dedup, "dbscan": q_vector}[gate]
    real_collect, gate_t = gate_mod.bounded_collect, []

    def timed_collect(frame, cap):
        t0 = time.perf_counter()
        try:
            return real_collect(frame, cap)
        finally:
            gate_t[-1] += time.perf_counter() - t0

    gate_mod.bounded_collect = timed_collect

    def once() -> tuple[float, float]:
        gate_t.append(0.0)
        t0 = time.perf_counter()
        for o in outputs():
            o.collect()
        return time.perf_counter() - t0, gate_t[-1]

    once()
    runs = [once() for _ in range(reps)]
    wall = statistics.median(w for w, _ in runs)
    gate_s = statistics.median(g for _, g in runs)
    py = _vmhwm_mb(os.getpid())
    jvm = _vmhwm_mb(spark.sparkContext._gateway.proc.pid)
    return {"gate": gate, "size": size, "path": mode, "wall_s": round(wall, 3),
            "gate_s": round(gate_s, 3), "python_mb": round(py), "jvm_mb": round(jvm),
            "peak_rss_mb": round(py + jvm)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--gate", required=True, choices=sorted(WRITERS))
    ap.add_argument("--dir", required=True, help="where the inputs go")
    ap.add_argument("--sizes", type=int, nargs="+", required=True)
    ap.add_argument("--shapes", nargs="+", default=["chain"],
                    choices=["chain", "forest"], help="cc input shapes")
    ap.add_argument("--paths", nargs="+", default=["driver", "distributed"],
                    choices=["driver", "distributed", "default"])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--one", nargs=2, help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.one:
        print(json.dumps(_run(a.gate, a.one[0], a.sizes[0], a.one[1], a.reps)))
        return
    sys.path.insert(0, ROOT)
    os.makedirs(a.dir, exist_ok=True)
    shapes = a.shapes if a.gate == "cc" else ["-"]
    for size in a.sizes:
        for shape in shapes:
            path = os.path.join(a.dir, f"{a.gate}_{shape}_{size}.parquet")
            if not os.path.exists(path):
                WRITERS[a.gate](path, size, shape)
            extra = {"shape": shape} if a.gate == "cc" else {}
            if a.gate == "dbscan":
                extra = {"candidates": _candidates(path)}
            for mode in a.paths:
                out = subprocess.run(
                    [sys.executable, __file__, "--gate", a.gate, "--dir", a.dir,
                     "--sizes", str(size), "--reps", str(a.reps),
                     "--one", path, mode],
                    capture_output=True, text=True, check=True,
                ).stdout
                rec = json.loads(out.strip().splitlines()[-1])
                print(json.dumps({**rec, **extra}), flush=True)


if __name__ == "__main__":
    main()
