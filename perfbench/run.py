"""Benchmark: one workload of registry queries, end to end or traced.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run is one fresh process and a closed loop with a single client:

1. set-up: build the session (``session.get_spark``), import
   ``plans.registry`` and run a first job (``setup_s``);
2. two untimed warm-up passes; the first is also the output check: every
   query's result fingerprint is compared with ``expected.json``;
3. timed passes over the workload's queries until ``--seconds`` have
   passed; each query is timed as ``QUERIES[name].fn(spark, lake)``
   (build) plus a ``noop`` write (exec).

``--seed`` orders the queries in every pass; the lake is the generated
sf0.1 one (``gendata.py``) unless ``$SPARK_GRAFT_SF_DIR`` names another.
The session runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the usable
cores) with a driver heap sized from the machine's memory. Each run gets
a private TMPDIR, Spark local dir and warehouse under ``.scratch/``,
which it measures and deletes when it ends.

With ``--trace 1`` the run installs the ledger (``ledger.py``),
runs untraced and traced passes in ABBA blocks, and reports the per-layer
metrics of the traced passes plus the tracing overhead; spans go to
``.traces/``. The last stdout line is the JSON result; the line before
it carries the details (session sizing, sample counts, per-query times,
failures).
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

from workloads import ROOT, WORKLOADS, resolve_lake, session_env, stop_spark


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _git_commit() -> str | None:
    """HEAD's commit when the tree is a git repository (a checkout need
    not be one)."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, filenames in os.walk(path):
        for name in filenames:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total / 2**20


def _tail(samples: list[float]) -> dict:
    """The highest of p75/p90/p95/p99 with at least ten samples beyond it."""
    n = len(samples)
    for pct in (99, 95, 90, 75):
        if n * (100 - pct) / 100 >= 10:
            return {"pct": f"p{pct}", "value": statistics.quantiles(samples, n=100)[pct - 1], "n": n}
    return {"pct": None, "value": None, "n": n}


class Run:
    """State of one benchmark run inside the process."""

    def __init__(self, a: argparse.Namespace, lake: str, cores: int) -> None:
        self.a = a
        self.lake = lake
        self.cores = cores
        self.queries = list(WORKLOADS[a.workload].queries)
        self.rng = random.Random(a.seed)
        self.spark = None
        self.tracer = None
        self.status = None
        self.streams = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.pass_s: dict[bool, list[float]] = {False: [], True: []}
        self.per_query: dict[str, list[tuple[float, float]]] = {q: [] for q in self.queries}
        self.traced_layers: list[dict[str, float]] = []
        self.timed_s = 0.0
        self.rss_mb = 0.0
        self.wrapped = 0

    def order(self) -> list[str]:
        names = list(self.queries)
        self.rng.shuffle(names)
        return names

    def fail(self, name: str, phase: str, why: str) -> None:
        self.failures.append({"query": name, "phase": phase, "why": why[:300]})

    def setup(self) -> dict[str, float]:
        t0 = time.monotonic()
        from openseizuredatabase_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.a.workload}")
        t1 = time.monotonic()
        # traced runs pay the wrapper install inside plans.import_s
        if self.a.trace:
            from ledger import Tracer

            self.tracer = Tracer()
            self.wrapped = self.tracer.install()
        from openseizuredatabase_spark.plans.registry import QUERIES

        self.QUERIES = QUERIES
        t2 = time.monotonic()
        self.spark.range(1000).count()
        t3 = time.monotonic()
        return {
            "setup_s": t3 - t0,
            "session.get_spark_s": t1 - t0,
            "plans.import_s": t2 - t1,
            "session.first_job_s": t3 - t2,
        }

    def drop_persisted(self) -> None:
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def check(self, expected: dict) -> None:
        """The warm-up pass: run every query once and compare its
        fingerprint with the recorded one."""
        from check import fingerprint

        for name in self.order():
            self.attempted += 1
            try:
                got = fingerprint(self.QUERIES[name].fn(self.spark, self.lake))
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                self.fail(name, "check", f"{type(e).__name__}: {e}")
                continue
            finally:
                self.drop_persisted()
            want = expected.get(name)
            if got != want:
                self.fail(name, "check", f"fingerprint {got} != expected {want}")

    def one_pass(self, index, traced: bool) -> tuple[float, dict[str, tuple[float, float]], dict]:
        """Time one pass; return its wall time (sum of query times), the
        per-query (build, exec) times and, when traced, its layer totals."""
        layers: dict[str, float] = collections.defaultdict(float)
        times: dict[str, tuple[float, float]] = {}
        total = 0.0
        if traced:
            self.status.skip()
            self.tracer.enabled = True
        for name in self.order():
            self.attempted += 1
            if traced:
                self.tracer.trace = f"pass{index}:{name}"
            try:
                t0 = time.perf_counter()
                with self._span(traced, "plans", f"build {name}"):
                    df = self.QUERIES[name].fn(self.spark, self.lake)
                t1 = time.perf_counter()
                with self._span(traced, "spark.exec", f"exec {name}"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                self.fail(name, f"pass{index}", f"{type(e).__name__}: {e}")
                continue
            finally:
                if traced:
                    self._harvest(layers)
                self.drop_persisted()
            times[name] = (t1 - t0, t2 - t1)
            total += t2 - t0
            if traced:
                layers["plans.build_s"] += t1 - t0
                layers["spark.exec_s"] += t2 - t1
        if traced:
            self.tracer.enabled = False
        return total, times, layers

    def _span(self, traced: bool, layer: str, name: str):
        return self.tracer.span(layer, name) if traced else contextlib.nullcontext()

    def _harvest(self, layers: dict[str, float]) -> None:
        from ledger import JOB_COUNTERS

        jobs = self.status.jobs()
        for k, v in self.tracer.close_query(jobs).items():
            layers[k] += v
        for rec in jobs:
            layers["spark.jobs"] += 1
            for k in JOB_COUNTERS:
                layers[f"spark.{k}"] += rec[k]
        for k, v in self.status.python_eval().items():
            layers[k] += v

    def timed(self, seconds: float) -> None:
        """Timed passes until ``seconds`` have passed. Traced runs go in
        untraced/traced/traced/untraced blocks, so the warming of early
        passes does not bias the overhead share."""
        if self.a.trace:
            from ledger import StatusLedger, stream_ledger_class

            self.status = StatusLedger(self.spark)
            self.streams = stream_ledger_class()()
            self.spark.streams.addListener(self.streams)
        started = time.monotonic()
        index = 0
        while time.monotonic() - started < seconds or (self.a.trace and index % 4):
            traced = bool(self.a.trace) and index % 4 in (1, 2)
            t_start = time.time()
            total, times, layers = self.one_pass(index, traced)
            if traced:
                time.sleep(0.2)  # let the listener bus deliver stream progress
                layers.update(self.streams.between(t_start, time.time()))
                layers["spark.idle_share"] = 1.0 - layers["spark.task_run_s"] / (
                    max(total, 1e-9) * self.cores)
                self.traced_layers.append(layers)
            self.pass_s[traced].append(total)
            for q, bt in times.items():
                self.per_query[q].append(bt)
            index += 1
        self.timed_s = time.monotonic() - started
        if self.a.trace:
            from ledger import peak_rss_mb

            jvm = getattr(self.spark.sparkContext._gateway, "proc", None)
            self.rss_mb = peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))


def _layer_metrics(run: Run, setup: dict[str, float], tmp_mb: float) -> dict[str, float]:
    """Per-layer values: per-pass means over the traced passes, plus the
    set-up split, peak memory, temp-dir use and tracing overhead."""
    traced = run.traced_layers
    out = {k: statistics.fmean(d.get(k, 0.0) for d in traced)
           for k in sorted({k for d in traced for k in d})}
    out.update({k: setup[k] for k in ("session.get_spark_s", "plans.import_s",
                                      "session.first_job_s")})
    out["driver.peak_rss_mb"] = run.rss_mb
    out["io.tmp_mb"] = tmp_mb
    out["trace.overhead_share"] = (
        statistics.median(run.pass_s[True]) / statistics.median(run.pass_s[False]) - 1.0)
    return out


def main(argv: list[str]) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "openseizuredatabase_spark")):
        _fail(f"package openseizuredatabase_spark not found under {ROOT}")
    sys.path.insert(0, ROOT)
    from check import lake_digest, load_expected

    lake, sf = resolve_lake()
    expected = load_expected().get(lake_digest(lake))
    if not expected or any(q not in expected for q in WORKLOADS[a.workload].queries):
        _fail(f"no expected fingerprints for lake {lake}; run perfbench/check.py")

    scratch = os.path.join(HERE, ".scratch", f"{a.workload}-{os.getpid()}")
    conf = {}
    if a.trace:
        from ledger import RETENTION_CONF

        conf = RETENTION_CONF
    cores, driver_mem = session_env(scratch, conf)
    run = Run(a, lake, cores)
    try:
        setup = run.setup()
        t_check = time.monotonic()
        run.check(expected)
        check_s = time.monotonic() - t_check
        run.one_pass("warm", traced=False)  # JIT warming outlasts one pass
        run.timed(a.seconds)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        tmp_mb = _dir_mb(scratch) if os.path.isdir(scratch) else 0.0
        shutil.rmtree(scratch, ignore_errors=True)

    samples = [b + e for v in run.per_query.values() for b, e in v]
    medians = [statistics.median(b + e for b, e in v) for v in run.per_query.values() if v]
    geomean = statistics.geometric_mean(medians) if medians else 0.0
    untraced = run.pass_s[False]
    failed = len(run.failures)
    detail = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "session": {"cores": cores, "driver_memory": driver_mem, "sf": sf,
                    "lake": os.path.relpath(lake, ROOT), "git_commit": _git_commit()},
        "setup": {k: round(v, 4) for k, v in setup.items()},
        "passes": {"untraced": len(untraced), "traced": len(run.pass_s[True]),
                   "check_s": round(check_s, 3), "timed_s": round(run.timed_s, 3)},
        "pass_s": {"median": statistics.median(untraced), "n": len(untraced),
                   "all": [round(x, 4) for x in untraced]},
        "query_s": {"geomean": geomean, "p50": statistics.median(samples) if samples else None,
                    "tail": _tail(samples), "n": len(samples)},
        "per_query_median_s": {
            q: {"build": round(statistics.median(b for b, _ in v), 4),
                "exec": round(statistics.median(e for _, e in v), 4), "n": len(v)}
            for q, v in run.per_query.items() if v
        },
        "failed_frac": failed / max(run.attempted, 1),
        "attempted": run.attempted,
        "failures": run.failures,
    }
    if a.trace:
        from ledger import LAYER_METRICS, write_spans

        values = _layer_metrics(run, setup, tmp_mb)
        spans_path = os.path.join(HERE, ".traces", f"{a.workload}-seed{a.seed}.jsonl")
        write_spans(spans_path, run.tracer.spans)
        detail["spans"] = {"path": os.path.relpath(spans_path, ROOT),
                           "count": len(run.tracer.spans), "wrapped_functions": run.wrapped}
        detail["layer_moves"] = {k: {"moves": m[2], "on": m[3]} for k, m in LAYER_METRICS.items()}
        metrics = {k: {"value": values.get(k, 0.0), "unit": m[0]}
                   for k, m in LAYER_METRICS.items()}
    else:
        metrics = {
            "setup_s": {"value": setup["setup_s"], "unit": "s"},
            "pass_s": {"value": statistics.median(untraced), "unit": "s"},
            "query_s.geomean": {"value": geomean, "unit": "s"},
        }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
