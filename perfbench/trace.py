"""Layer tracing for the traced run, recorded from outside the engine.

Two sources, neither of which changes engine code:

* spans: the public functions of each engine module are wrapped in place
  (every module attribute and class method bound to the original function is
  replaced), so each call records a span (layer, name, start, end, parent) in
  memory;
* Spark's own status stores, read at the end of each pass: the SQL status
  store (final post-AQE plan graphs and their metrics), the app status store
  (jobs, stages, tasks, shuffle, spill) and a StreamingQueryListener
  (per-trigger ``durationMs``).  All of them work with ``spark.ui.enabled``
  false.
"""

from __future__ import annotations

import functools
import inspect
import re
import statistics
import sys
import time
from collections import defaultdict

PKG = "data_wrangling_with_openstreetmap_and_mongodb_spark"

# Modules whose public functions are wrapped, by layer name.  The operator
# families the curation workload exercises are one layer each.
SPAN_LAYERS = {
    "catalog.load_table": [(f"{PKG}.catalog", "load_table")],
    "docstore.compile": [
        (f"{PKG}.docstore.pipeline", "aggregate"),
        (f"{PKG}.docstore.collection", "DocumentCollection.find"),
        (f"{PKG}.docstore.collection", "DocumentCollection.count"),
        (f"{PKG}.docstore.collection", "DocumentCollection.distinct"),
        (f"{PKG}.docstore.collection", "DocumentCollection.aggregate"),
    ],
    "operators.dedup": [(f"{PKG}.operators.dedup", "*")],
    "operators.similarity": [(f"{PKG}.operators.similarity", "*")],
    "operators.multimodal": [(f"{PKG}.operators.multimodal", "*")],
    "operators.graph": [(f"{PKG}.operators.graph", "*")],
    "operators.sketch": [(f"{PKG}.operators.sketch", "*")],
    "operators.search": [(f"{PKG}.operators.search", "*")],
    "operators.text": [(f"{PKG}.operators.text", "*")],
    "operators.upsert": [(f"{PKG}.operators.upsert", "*")],
    "sources.avro": [(f"{PKG}.sources.avrox", "*")],
}

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_METRIC_RE = re.compile(r"^(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Parse one SQL metric as the status store formats it: ``'12,152'``,
    ``'303 ms'``, ``'2.6 MiB'``, or the multi-task form whose second line is
    ``'<total> (<min>, <med>, <max> ...)'``.  Times come back in ms, sizes in
    bytes."""
    line = text.strip().split("\n")[-1].strip()
    m = _METRIC_RE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _iterate(java_seq):
    it = java_seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """Owns the spans, the wrapped functions and the status-store readers of one run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.enabled = False
        self.spans: list[tuple[str, str, float, float, int | None]] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.progress: list[dict] = []
        self._listener = None
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._app_store = spark.sparkContext._jsc.sc().statusStore()
        self._gc_beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    # -- spans ----------------------------------------------------------------
    def begin(self, layer: str, name: str) -> int:
        """Open a span; calls made until :meth:`end` become its children."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((layer, name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self._stack.pop()
        layer, name, start, _, parent = self.spans[idx]
        self.spans[idx] = (layer, name, start, time.perf_counter(), parent)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.begin(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        return traced

    def install(self) -> None:
        """Wrap every listed public function wherever the engine bound it."""
        for layer, targets in SPAN_LAYERS.items():
            for module_name, attr in targets:
                module = sys.modules.get(module_name) or __import__(module_name, fromlist=["_"])
                if attr == "*":
                    names = [
                        n for n, v in vars(module).items()
                        if not n.startswith("_") and inspect.isfunction(v) and v.__module__ == module_name
                    ]
                    for n in names:
                        self._replace_everywhere(getattr(module, n), self._wrap(layer, n, getattr(module, n)))
                elif "." in attr:
                    cls_name, meth = attr.split(".")
                    cls = getattr(module, cls_name)
                    original = cls.__dict__[meth]
                    self._restore.append((cls, meth, original))
                    setattr(cls, meth, self._wrap(layer, attr, original))
                else:
                    original = getattr(module, attr)
                    self._replace_everywhere(original, self._wrap(layer, attr, original))
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if tracer.enabled:
                    p = event.progress
                    tracer.progress.append({"rows": p.numInputRows, **dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def _replace_everywhere(self, original, wrapped) -> None:
        for mod_name, module in list(sys.modules.items()):
            if not mod_name.startswith(PKG) or module is None:
                continue
            for n, v in list(vars(module).items()):
                if v is original:
                    self._restore.append((module, n, original))
                    setattr(module, n, wrapped)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._restore):
            setattr(owner, name, original)
        self._restore.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def layer_seconds(self) -> dict[str, float]:
        """Per layer, the summed duration of its outermost spans (a call
        nested inside a call of the same layer is not counted twice)."""
        out: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for layer, _name, start, end, parent in self.spans:
            p = parent
            nested = False
            while p is not None:
                if self.spans[p][0] == layer:
                    nested = True
                    break
                p = self.spans[p][4]
            if not nested:
                out[layer] += end - start
                calls[layer] += 1
        return {**{f"{k}_s": v for k, v in out.items()}, **{f"{k}_calls": v for k, v in calls.items()}}

    # -- Spark status stores ---------------------------------------------------
    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def watermark(self) -> tuple[int, int]:
        """(last SQL execution id, last job id) seen so far."""
        execs = [e.executionId() for e in _iterate(self._sql_store.executionsList())]
        jobs = [j.jobId() for j in _iterate(self._app_store.jobsList(None))]
        return max(execs, default=-1), max(jobs, default=-1)

    def spark_counters(self, since: tuple[int, int], sinks: dict[str, float], timeout_s: float = 10.0) -> dict:
        """Totals over the SQL executions and jobs started after ``since``.

        ``sinks`` maps an op's job description to the wall-clock time its
        sink call began; the gap to its last SQL execution's submission is
        the planning time before execution."""
        exec_since, job_since = since
        deadline = time.time() + timeout_s
        while True:
            execs = [e for e in _iterate(self._sql_store.executionsList()) if e.executionId() > exec_since]
            if all(e.completionTime().isDefined() for e in execs) or time.time() > deadline:
                break
            time.sleep(0.05)
        out = defaultdict(float)
        last_exec: dict[str, object] = {}
        for e in execs:
            sub = e.submissionTime()
            if e.completionTime().isDefined():
                out["spark.exec_s"] += (e.completionTime().get().getTime() - sub) / 1e3
            desc = e.description()
            if desc in sinks and (desc not in last_exec or sub >= last_exec[desc].submissionTime()):
                last_exec[desc] = e
            metrics = self._sql_store.executionMetrics(e.executionId())
            found: dict[str, float] = defaultdict(float)
            binary_scan = False
            for node in _iterate(self._sql_store.planGraph(e.executionId()).allNodes()):
                name = node.name().split(" (")[0].strip()
                binary_scan |= name == "Scan binaryFile"
                for m in _iterate(node.metrics()):
                    target = _SQL_METRICS.get((name, m.name()))
                    v = metrics.get(m.accumulatorId())
                    if target and v.isDefined():
                        found[target] += metric_value(v.get())
            if binary_scan:
                # The OSM parse: Python time of the mapInPandas reading the
                # file, and the tasks of the first job (the scan stage).
                out["sources.osm_parse_s"] += found.pop("python_ms", 0.0) / 1e3
                first_job = min((int(k) for k in _iterate(e.jobs().keys())), default=None)
                if first_job is not None:
                    j = self._app_store.job(first_job)
                    out["sources.osm_parse_tasks"] += j.numTasks() - j.numSkippedTasks()
            found.pop("python_ms", None)
            for k, v in found.items():
                out[k] += v
        for desc, e in last_exec.items():
            out["spark.plan_s"] += max(0.0, e.submissionTime() / 1e3 - sinks[desc])
        for j in _iterate(self._app_store.jobsList(None)):
            if j.jobId() <= job_since:
                continue
            out["spark.jobs"] += 1
            out["spark.tasks"] += j.numTasks() - j.numSkippedTasks()
            for sid in _iterate(j.stageIds()):
                try:
                    s = self._app_store.lastStageAttempt(int(sid))
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    continue
                out["spark.shuffle_bytes"] += s.shuffleWriteBytes()
                out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return dict(out)

    def streaming_counters(self) -> dict:
        p = self.progress
        return {
            "streaming.triggers": len(p),
            "streaming.trigger_ms_p50": statistics.median([x.get("triggerExecution", 0) for x in p]) if p else 0.0,
            "streaming.add_batch_ms": float(sum(x.get("addBatch", 0) for x in p)),
            "streaming.wal_commit_ms": float(sum(x.get("walCommit", 0) for x in p)),
            "streaming.query_planning_ms": float(sum(x.get("queryPlanning", 0) for x in p)),
            "streaming.input_rows": float(sum(x.get("rows", 0) for x in p)),
        }


# (plan node, SQL metric) -> per-layer counter.  Times in ms, sizes in bytes.
_SQL_METRICS = {
    ("AQEShuffleRead", "number of empty partitions"): "spark.empty_partitions",
    ("BroadcastExchange", "time to collect"): "spark.broadcast_collect_ms",
    ("Scan parquet", "scan time"): "spark.scan_ms",
    ("WholeStageCodegen", "duration"): "spark.codegen_ms",
    ("MapInPandas", "time to run Python workers"): "python_ms",
}
