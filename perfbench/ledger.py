"""Per-layer ledger for traced runs, measured from outside the program.

Three sources feed it:

- ``Tracer`` wraps the public functions of the package's layer modules
  (sources, operators, functions, detection, ml, streaming, pipelines)
  and records one span per call: name, layer, start, end, parent span
  and trace id (one trace per query execution). It must be installed
  before ``plans.registry`` is imported, because the plan modules bind
  names such as ``load_table`` with from-imports.
- ``StatusLedger`` reads Spark's in-process status stores. Every job
  that started since the previous harvest becomes a child span of the
  innermost call that was running when it was submitted, with its
  stages' task metrics summed, and each stage that ran becomes a child
  span of its job. Jobs are found by job id, not by job
  group, so streaming micro-batches on their own threads are counted.
  SQL metrics of the Python-eval plan nodes give the UDF rows and bytes.
- ``StreamLedger`` is a streaming query listener that records every
  micro-batch's progress.

A span's self time is its duration minus the part of it that its child
spans (calls and Spark jobs) cover.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import re
import sys
import threading
import time
from dataclasses import asdict, dataclass, field
from datetime import datetime

PACKAGE = "openseizuredatabase_spark"
LAYERS = ("sources", "operators", "functions", "detection", "ml", "streaming", "pipelines")
MIB = 1024.0 * 1024.0

# per-layer metric -> (unit, better, end-to-end metric it should move, workload).
# The wrappers run on the driver only: Python workers unpickle the
# unwrapped module functions, so functions/detection/ml.self_s count the
# driver-side calls (plan building, driver loops), and the time the
# workers spend evaluating UDFs shows only in udf.rows, udf.mb and
# udf.python_s (Spark's "time to run Python workers" SQL metric).
LAYER_METRICS: dict[str, tuple[str, str, str, str]] = {
    "session.get_spark_s": ("s", "lower", "setup_s", "all"),
    "session.first_job_s": ("s", "lower", "setup_s", "all"),
    "plans.import_s": ("s", "lower", "setup_s", "all"),
    "plans.build_s": ("s", "lower", "pass_s", "driver_udf"),
    "plans.build_jobs": ("count", "lower", "pass_s", "driver_udf"),
    "spark.exec_s": ("s", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.jobs": ("count", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.stages": ("count", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.tasks": ("count", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.task_run_s": ("s", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.task_cpu_s": ("s", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.gc_s": ("s", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.deser_s": ("s", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.shuffle_read_mb": ("MiB", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.shuffle_write_mb": ("MiB", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.failed_tasks": ("count", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.skipped_stages": ("count", "higher", "pass_s, query_s.geomean", "curate_lake"),
    "spark.idle_share": ("share", "lower", "pass_s, query_s.geomean", "curate_lake"),
    "spark.result_mb": ("MiB", "lower", "pass_s", "driver_udf"),
    "driver.peak_rss_mb": ("MiB", "lower", "pass_s", "driver_udf"),
    "udf.rows": ("count", "lower", "query_s.geomean, pass_s", "driver_udf"),
    "udf.mb": ("MiB", "lower", "query_s.geomean, pass_s", "driver_udf"),
    "udf.python_s": ("s", "lower", "query_s.geomean, pass_s", "driver_udf"),
    "functions.self_s": ("s", "lower", "pass_s", "driver_udf"),
    "detection.self_s": ("s", "lower", "pass_s", "driver_udf"),
    "ml.self_s": ("s", "lower", "pass_s", "driver_udf"),
    "operators.self_s": ("s", "lower", "pass_s", "driver_udf"),
    "operators.calls": ("count", "lower", "pass_s", "driver_udf"),
    "functions.ann.self_s": ("s", "lower", "pass_s", "driver_udf"),
    "pipelines.self_s": ("s", "lower", "pass_s", "curate_lake"),
    "sources.self_s": ("s", "lower", "pass_s", "curate_lake"),
    "sources.calls": ("count", "lower", "pass_s", "curate_lake"),
    "spark.input_mb": ("MiB", "lower", "pass_s", "curate_lake"),
    "spark.output_mb": ("MiB", "lower", "pass_s", "curate_lake"),
    "io.tmp_mb": ("MiB", "lower", "pass_s", "curate_lake"),
    "streaming.batches": ("count", "lower", "pass_s", "curate_lake"),
    "streaming.trigger_s": ("s", "lower", "pass_s", "curate_lake"),
    "streaming.input_rows": ("count", "lower", "pass_s", "curate_lake"),
    "trace.overhead_share": ("share", "lower", "none (tracing cost)", "all"),
}

# status-store retention for traced runs: the harvest reads jobs and SQL
# executions by id, so none may be evicted inside a run
RETENTION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


@dataclass
class Span:
    id: int
    parent: int | None
    trace: str
    layer: str
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans for wrapped calls; recording only while ``enabled``."""

    def __init__(self) -> None:
        self.enabled = False
        self.trace = ""
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _next_id(self) -> int:
        with self._lock:
            return next(self._ids)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """One span around the body, child of the thread's open span."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = self._next_id()
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            self.spans.append(Span(sid, parent, self.trace, layer, name, start, time.time()))

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def close_query(self, jobs: list[dict]) -> dict[str, float]:
        """Attach the current query execution's Spark jobs as child spans
        of the innermost call running at each job's submission, and return
        that execution's per-layer self time and call counts."""
        mine = [s for s in self.spans if s.trace == self.trace]
        job_spans = []
        stage_spans = []
        for rec in jobs:
            start, end = _interval(rec)
            covering = [s for s in mine if s.start <= start <= s.end]
            parent = max(covering, key=lambda s: s.start).id if covering else None
            attrs = {k: v for k, v in rec.items() if k not in ("start", "end", "stage_list")}
            job = Span(self._next_id(), parent, self.trace, "spark.job",
                       f"job {rec['job']}", start, end, attrs)
            job_spans.append(job)
            for st in rec["stage_list"]:
                attrs = {k: v for k, v in st.items() if k not in ("start", "end")}
                stage_spans.append(Span(self._next_id(), job.id, self.trace, "spark.stage",
                                        f"stage {st['stage']}", *_interval(st), attrs))
        self.spans.extend(job_spans + stage_spans)
        children: dict[int, list[tuple[float, float]]] = {}
        for s in mine + job_spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = collections.defaultdict(float)
        for s in mine:
            if s.layer in ("plans", "spark.exec"):
                continue
            own = (s.end - s.start) - _covered(children.get(s.id, []), s.start, s.end)
            out[f"{s.layer}.self_s"] += own
            out[f"{s.layer}.calls"] += 1
        build = [s for s in mine if s.layer == "plans"]
        out["plans.build_jobs"] = float(sum(
            1 for j in job_spans if any(b.start <= j.start <= b.end for b in build)))
        return out

    def install(self) -> int:
        """Wrap every public function of the layer modules and rebind the
        copies other package modules already imported. Returns the count."""
        originals: dict[int, tuple[object, object]] = {}
        for layer in LAYERS:
            pkg = importlib.import_module(f"{PACKAGE}.{layer}")
            for info in pkgutil.iter_modules(pkg.__path__):
                mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
                tag = "functions.ann" if mod.__name__ == f"{PACKAGE}.functions.ann" else layer
                for attr, obj in list(vars(mod).items()):
                    if (attr.startswith("_") or not inspect.isfunction(obj)
                            or obj.__module__ != mod.__name__
                            or hasattr(obj, "evalType")):
                        continue
                    wrapped = self.wrap(tag, f"{info.name}.{attr}", obj)
                    originals[id(obj)] = (obj, wrapped)
                    setattr(mod, attr, wrapped)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
        return len(originals)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": MIB, "GiB": MIB * 1024, "TiB": MIB * MIB}
_TIME = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_value(text: str) -> float:
    """Parse a SQL metric string ("1,234", "3.7 s", "16.2 KiB", or the
    "total (min, med, max ...)\\n<total> (...)" form) to base units."""
    line = text.splitlines()[-1] if text.startswith("total") else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


_PY_NODE = re.compile(r"Python|Pandas|InArrow")

# stage metric -> (StageData getter, scale to the ledger's unit)
STAGE_METRICS = {
    "tasks": ("numTasks", 1),
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "deser_s": ("executorDeserializeTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / MIB),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / MIB),
    "result_mb": ("resultSize", 1 / MIB),
    "input_mb": ("inputBytes", 1 / MIB),
    "output_mb": ("outputBytes", 1 / MIB),
}
# per-job counters summed into the spark.* layer metrics
JOB_COUNTERS = ("stages", "skipped_stages", "failed_tasks", *STAGE_METRICS)


class StatusLedger:
    """Harvests jobs, stages and SQL executions started since the last call."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.skip()

    def skip(self) -> None:
        """Move past everything that ran so far without reading it."""
        self._last_job = self._newest_job_id()
        self._exec_count = self._sql.executionsCount()

    def _newest_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs(self) -> list[dict]:
        """New jobs, oldest first, each with its stages (skipped ones left
        out) and their metrics summed."""
        store, out = self._store, []
        jobs = store.jobsList(None)  # newest first
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            stages = []
            ids = j.stageIds()
            for q in range(ids.size()):
                s = store.lastStageAttempt(ids.apply(q))
                if str(s.status()) == "SKIPPED":
                    continue
                stage = {"stage": s.stageId(), "start": _opt_ms(s.submissionTime()),
                         "end": _opt_ms(s.completionTime())}
                stage.update({k: getattr(s, getter)() * scale
                              for k, (getter, scale) in STAGE_METRICS.items()})
                stages.append(stage)
            out.append({
                "job": j.jobId(),
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
                "stages": len(stages),
                "skipped_stages": j.numSkippedStages(),
                "failed_tasks": j.numFailedTasks(),
                **{k: sum(st[k] for st in stages) for k in STAGE_METRICS},
                "stage_list": stages,
            })
        if out:
            self._last_job = out[0]["job"]
        return out[::-1]

    def python_eval(self) -> dict[str, float]:
        """Rows, bytes and worker time of the Python-eval plan nodes of
        the SQL executions started since the last call."""
        sql = self._sql
        total = {"udf.rows": 0.0, "udf.mb": 0.0, "udf.python_s": 0.0}
        count = sql.executionsCount()
        if count <= self._exec_count:
            return total
        execs = sql.executionsList(self._exec_count, count - self._exec_count)
        self._exec_count = count
        for k in range(execs.size()):
            e = execs.apply(k)
            if not _PY_NODE.search(e.physicalPlanDescription()):
                continue
            values = sql.executionMetrics(e.executionId())
            nodes = sql.planGraph(e.executionId()).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if not _PY_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    opt = values.get(metric.accumulatorId())
                    if not opt.isDefined():
                        continue
                    v = _metric_value(opt.get())
                    name = metric.name()
                    if name == "number of output rows":
                        total["udf.rows"] += v
                    elif name in ("data sent to Python workers", "data returned from Python workers"):
                        total["udf.mb"] += v / MIB
                    elif name == "time to run Python workers":
                        total["udf.python_s"] += v
        return total


def stream_ledger_class():
    """A StreamingQueryListener subclass (built lazily: importing pyspark
    belongs to the timed session set-up)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamLedger(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[tuple[float, int, float]] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp).timestamp()
            trigger_ms = p.durationMs.get("triggerExecution", 0)
            self.progress.append((ts, int(p.numInputRows), trigger_ms / 1e3))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def between(self, start: float, end: float) -> dict[str, float]:
            hits = [p for p in self.progress if start <= p[0] <= end]
            return {
                "streaming.batches": float(len(hits)),
                "streaming.input_rows": float(sum(p[1] for p in hits)),
                "streaming.trigger_s": sum(p[2] for p in hits),
            }

    return StreamLedger


def _interval(rec: dict) -> tuple[float, float]:
    """A status-store record's (start, end); one still running ends now."""
    start = rec["start"] if rec["start"] is not None else time.time()
    return start, rec["end"] if rec["end"] is not None else time.time()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over ``pids`` (the Python driver and its JVM)."""
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return total


def write_spans(path: str, spans: list[Span]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(asdict(s)) + "\n")
