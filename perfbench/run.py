#!/usr/bin/env python3
"""The repo benchmark: one client, closed loop, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run builds its inputs from the seed, starts a ``local[nproc/2]`` session
(``SPARK_GRAFT_CPUS`` = nproc/2), runs one unmeasured pass that warms the
session and checks every op's output, then times whole passes of the
workload's ops while another pass fits in ``--seconds``.  With ``--trace 1`` it then
adds one traced pass, which gives the per-layer metrics and the tracing
overhead.  The last stdout line is the JSON result; every run also writes
its own result file under ``perfbench/runs/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import datetime  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host, workloads  # noqa: E402

WORKLOADS = ("osm_capstone", "catalog_mix")
# The catalog workload reads the read-only sf0.1 tables; the setting is the
# one bench.py reads.
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "catalog.load_table_s": "s", "catalog.load_table_calls": "count",
    "queries.call_s": "s", "queries.sink_s": "s",
    "docstore.compile_s": "s", "docstore.compile_calls": "count",
    "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.empty_partitions": "count",
    "spark.broadcast_collect_ms": "ms", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.scan_ms": "ms", "spark.codegen_ms": "ms",
    "spark.gc_ms": "ms",
    "sources.osm_parse_s": "s", "sources.osm_parse_tasks": "count",
    "functions.shape_s": "s", "functions.audit_s": "s", "functions.streets_rewritten": "count",
    "operators.dedup_s": "s", "operators.similarity_s": "s", "operators.multimodal_s": "s",
    "operators.graph_s": "s", "operators.sketch_s": "s", "operators.search_s": "s",
    "operators.text_s": "s", "operators.upsert_s": "s", "sources.avro_s": "s",
    "streaming.triggers": "count", "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "tmp_dirs_left": "count", "host.other_cpu_cores": "cores",
    "trace.pass_s": "s", "trace.overhead_pct": "%",
}
AUDIT_OPS = ("element_tag_counts", "tag_key_class_counts", "audit_street_types")
# The medians need at least this many timed passes, even on a slow host: with
# three, one pass slowed by warm-up or by the host does not set pass_s.
MIN_PASSES = 3


class Run:
    """One benchmark run: its private directories, session and measurements."""

    def __init__(self, args) -> None:
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        # Half the cores run tasks; the rest are left to the JVM's own threads,
        # the Python driver and the OS.  With every core busy, timings on a
        # shared host swing several times more from minute to minute.
        self.slots = max(1, self.cores // 2)
        stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
        self.run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
        self.work = os.path.join(ROOT, "perfbench", "work", self.run_id)
        self.tmp = os.path.join(self.work, "tmp")
        self.spark = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.op_latencies: dict[str, list[float]] = {}
        self.pass_times: list[float] = []
        self.tmp_left: list[int] = []
        self.check_latencies: dict[str, float] = {}

    # -- set-up -----------------------------------------------------------------
    def prepare_dirs(self) -> None:
        for d in ("tmp", "jvm-tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.work, d))
        # Python temp files of this process and its workers land in the run's
        # private directory, so what a pass leaves behind can be counted.
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.slots)
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")

    def start_session(self) -> float:
        from data_wrangling_with_openstreetmap_and_mongodb_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'jvm-tmp')}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        get_spark_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        # Warm: a shuffle through the noop sink loads codegen, the shuffle
        # path and the sink before the first op.
        self.spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().write.format(
            "noop"
        ).mode("overwrite").save()
        return get_spark_s

    def stop_session(self, sampler: host.TreeSampler) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        pass  # stop_processes below terminates it
                SparkContext._gateway = None
                SparkContext._jvm = None
        sampler.stop()
        host.stop_processes(sampler.tree())

    # -- passes -----------------------------------------------------------------
    def _sweep_tmp(self) -> int:
        """Count what the last pass left in the private temp dir, then delete it."""
        entries = os.listdir(self.tmp)
        for e in entries:
            path = os.path.join(self.tmp, e)
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.unlink(path)
        return len(entries)

    def run_op(self, op: workloads.Op, check: bool, tracer=None, sinks=None) -> tuple[float, float]:
        self.attempted += 1
        call_s = sink_s = 0.0
        desc = f"{len(sinks or ())}:{op.name}"
        if tracer is not None:
            self.spark.sparkContext.setJobGroup(desc, desc)
            span = tracer.begin("op", op.name)
        try:
            t0 = time.perf_counter()
            result = op.call(self.spark)
            t1 = time.perf_counter()
            if sinks is not None:
                sinks[desc] = time.time()
            got = op.sink(result, check)
            t2 = time.perf_counter()
            call_s, sink_s = t1 - t0, t2 - t1
            if check:
                reason = op.check(got)
                if isinstance(got, tuple) and len(got) == 2:
                    op.rows = len(got[0])
                if reason:
                    self.failures.append({"op": op.name, "check": reason})
        except Exception as e:  # noqa: BLE001 - a failing op is counted, the run goes on
            self.failures.append({"op": op.name, "error": f"{type(e).__name__}: {str(e)[:300]}"})
        finally:
            if tracer is not None:
                tracer.end(span)
        return call_s, sink_s

    def order(self, wl: workloads.Workload, rng: random.Random) -> list[workloads.Op]:
        return rng.sample(wl.ops, len(wl.ops)) if wl.shuffle else list(wl.ops)

    def check_pass(self, wl: workloads.Workload, rng: random.Random) -> None:
        for op in self.order(wl, rng):
            self.check_latencies[op.name] = sum(self.run_op(op, check=True))
        self._sweep_tmp()

    def timed_pass(self, wl: workloads.Workload, rng: random.Random, record: bool = True) -> float:
        t0 = time.perf_counter()
        for op in self.order(wl, rng):
            failed = len(self.failures)
            call_s, sink_s = self.run_op(op, check=False)
            if record and len(self.failures) == failed:
                self.op_latencies.setdefault(op.name, []).append(call_s + sink_s)
        pass_s = time.perf_counter() - t0
        left = self._sweep_tmp()
        if record:
            self.tmp_left.append(left)
        return pass_s

    def timed_passes(self, wl: workloads.Workload, rng: random.Random) -> None:
        """Whole passes while the last one's time still fits in ``--seconds``,
        and at least ``MIN_PASSES``."""
        start = time.perf_counter()
        while len(self.pass_times) < MIN_PASSES or (
            time.perf_counter() - start + self.pass_times[-1] <= self.args.seconds
        ):
            self.pass_times.append(self.timed_pass(wl, rng))

    def traced_pass(self, wl: workloads.Workload, rng: random.Random) -> dict:
        from perfbench.trace import Tracer

        tracer = Tracer(self.spark)
        tracer.install()
        try:
            since, gc0 = tracer.watermark(), tracer.gc_ms()
            sinks: dict[str, float] = {}
            calls: dict[str, tuple[float, float]] = {}
            tracer.enabled = True
            t0 = time.perf_counter()
            for op in self.order(wl, rng):
                calls[op.name] = self.run_op(op, check=False, tracer=tracer, sinks=sinks)
            pass_s = time.perf_counter() - t0
            tracer.enabled = False
            layer = tracer.spark_counters(since, sinks)
            layer["spark.gc_ms"] = tracer.gc_ms() - gc0
            layer.update(tracer.layer_seconds())
            layer.update(tracer.streaming_counters())
        finally:
            tracer.uninstall()
        layer["tmp_dirs_left"] = self._sweep_tmp()
        layer["queries.call_s"] = sum(c for c, _ in calls.values())
        layer["queries.sink_s"] = sum(s for _, s in calls.values())
        # Overhead against the untraced passes on either side of the traced one,
        # so that warm-up still going on does not read as negative overhead.
        after = self.timed_pass(wl, rng, record=False)
        layer["trace.pass_s"] = pass_s
        layer["trace.overhead_pct"] = 100.0 * (2 * pass_s / (self.pass_times[-1] + after) - 1.0)
        if wl.name == "osm_capstone":
            layer["functions.audit_s"] = sum(sum(calls[n]) for n in AUDIT_OPS)
            layer["functions.shape_s"] = max(0.0, sum(calls["process_map"]) - sum(calls["element_tag_counts"]))
            layer["functions.streets_rewritten"] = workloads.streets_rewritten(self.spark, wl.state["xml"])
            self.attempted += 1
            want = wl.state["truth"]["streets_rewritten"]
            if layer["functions.streets_rewritten"] != want:
                self.failures.append({"op": "streets_rewritten", "check": f"!= {want}"})
        return {"spans": tracer.spans, "layer": layer}

    # -- metrics ------------------------------------------------------------------
    def end_to_end(self, wl: workloads.Workload, setup_s: float, peak_rss: int) -> dict[str, float]:
        """Medians over the timed passes: of the pass times, and of every op
        latency in them."""
        pass_s = statistics.median(self.pass_times)
        if wl.name == "osm_capstone":
            rows = wl.state["truth"]["shaped_docs"]
        else:
            rows = sum(op.rows for op in wl.ops)
        return {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "op_p50_s": statistics.median(x for v in self.op_latencies.values() for x in v),
            "rows_per_s": rows / pass_s,
            "peak_rss_mb": peak_rss / 2**20,
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import data_wrangling_with_openstreetmap_and_mongodb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload != "osm_capstone" and not os.path.isdir(SF_DIR):
        print(f"perfbench: catalog tables not found at {SF_DIR}", file=sys.stderr)
        return 2

    run = Run(args)
    run.prepare_dirs()
    sampler = host.TreeSampler().start()
    traced = wl = None
    try:
        rng = random.Random(args.seed)
        get_spark_s = run.start_session()
        setup_s = time.perf_counter() - T_START
        # Inputs are built after set-up is measured, so generation is not set-up.
        t = time.perf_counter()
        if args.workload == "osm_capstone":
            wl = workloads.osm_workload(run.work, args.seed)
        else:
            wl = workloads.catalog_workload(
                args.workload, workloads.INTERACTIVE_OPS + workloads.HEAVY_OPS, SF_DIR,
                os.path.join(ROOT, "perfbench", "cache"),
            )
        gen_s = time.perf_counter() - t
        phases = {"setup": setup_s, "inputs": gen_s}
        t = time.perf_counter()
        run.check_pass(wl, rng)
        phases["check"] = time.perf_counter() - t
        t = time.perf_counter()
        run.timed_passes(wl, rng)
        phases["timed"] = time.perf_counter() - t
        if args.trace:
            t = time.perf_counter()
            traced = run.traced_pass(wl, rng)
            phases["traced"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        if wl is not None and "duckdb" in wl.state:
            wl.state["duckdb"].close()
        run.stop_session(sampler)
        shutil.rmtree(run.work, ignore_errors=True)
    phases["stop"] = time.perf_counter() - t

    metrics = run.end_to_end(wl, setup_s, sampler.peak_rss_bytes)
    if traced is not None:
        layer = {k: float(traced["layer"].get(k, 0.0)) for k in PER_LAYER_UNITS}
        layer["session.get_spark_s"] = get_spark_s
        layer["host.other_cpu_cores"] = sampler.other_cpu_cores
        reported = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layer.items()}
    else:
        reported = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}

    failed = len(run.failures)
    record = {
        "run_id": run.run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": run.cores,
        "session": f"local[{run.slots}]", "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "phases_s": phases, "get_spark_s": get_spark_s,
        "own_cpu_cores": sampler.own_cpu_cores, "other_cpu_cores": sampler.other_cpu_cores,
        "attempted": run.attempted, "failed": failed, "error_rate": failed / run.attempted,
        "failures": run.failures, "tmp_dirs_left_per_pass": run.tmp_left,
        "passes_s": run.pass_times, "op_latencies_s": run.op_latencies,
        "check_pass_latencies_s": run.check_latencies,
        "end_to_end": metrics, "per_layer": traced["layer"] if traced else None,
        "spans": traced["spans"] if traced else None,
    }
    os.makedirs(os.path.join(ROOT, "perfbench", "runs"), exist_ok=True)
    with open(os.path.join(ROOT, "perfbench", "runs", run.run_id + ".json"), "x") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"workload {args.workload} seed {args.seed} cores {run.cores} session local[{run.slots}]")
    print(f"ops timed {sum(map(len, run.op_latencies.values()))} in {len(run.pass_times)} passes; "
          f"error_rate {failed}/{run.attempted} = {failed / run.attempted:.4f}")
    print(f"tmp_dirs_left per pass {run.tmp_left}; other_cpu_cores {sampler.other_cpu_cores:.3f}")
    for f in run.failures:
        print(f"FAILED {f}")
    for k, v in reported.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted, "failed": failed, "metrics": reported}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
