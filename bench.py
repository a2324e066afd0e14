"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line (strict JSON, headline fields first so a tail-capture of
the output always retains the totals):

  {"metric": "catalog_total_runtime", "value": N, "unit": "sec", "sf": ...,
   "n": runs, "r2_subset_total": N, "queries": {<driver-visible only>}}

Protocol notes (round-over-round comparability):

THE ROTATION-ERA PERF CONTRACT (r16 — VERDICT r15 ask #8).  Since r15 the
50-slot driver window re-seats every round by provenance freshness, so the
driver's emitted per-query map can have ZERO overlap between consecutive
rounds and per-query round-over-round speedups cannot be computed from the
one-line JSON.  The official cross-round signals are therefore:
1. ``r2_subset_total`` — the ONLY cross-round scalar (frozen query set,
   frozen order, dedicated fresh JVM: chunk 0);
2. the committed per-round ``BENCH_DETAIL.json`` — the per-query record
   over the FULL catalog (every query, all samples, loads + CPU split),
   diffable round-over-round regardless of window rotation;
3. ``BENCH_r{N}.json`` / ``CORRECTNESS_r{N}.json`` artifacts committed at
   round close.

- ``r2_subset_total`` is the sum of medians over the FIXED round-2 query set
  (the 59 names benched in BENCH_r02), giving a directly comparable
  cross-round number immune to catalog growth;
- "value" is the sum of per-query medians over the whole catalog: the
  steady-state cost of one full catalog pass.  It GROWS with the catalog —
  never compare it across rounds; trend ``r2_subset_total``;
- the inline ``queries`` map is capped to DRIVER-VISIBLE queries at 2-decimal
  precision so the whole line stays under the driver's 2000-char tail capture;
  the full catalog detail (every query, 4-decimal medians, all samples) goes
  to ``BENCH_DETAIL.json`` next to this script.

Session-drift hardening (VERDICT r7 ask #1 — the fixed r2 subset drifted +19%
r6→r7 with the movers' code untouched, uniform inflation across untouched
queries = one JVM accumulating heap/GC/codegen-cache pressure over a
148-query catalog):

- **the r2 subset runs FIRST, in its own dedicated JVM, in the frozen
  R2_SUBSET order**: that reproduces round 2's measurement conditions
  (same query set, same session size, same execution order) no matter how
  large the catalog grows — r2_subset_total is compared across rounds, so
  its members must not drift to later session positions or share a session
  with an ever-growing catalog.  Measured sensitivity: a fresh-JVM
  25-query chunk put orders_of_top_customers at 1.11s vs 0.57s in a
  2-query session vs 0.36s in round 2's marathon — session context is
  worth 2-3x on sub-second queries, so the metric's context must be
  PINNED, not merely fresh;
- **fresh JVM per chunk for the rest**: non-subset queries run in
  SORTED-NAME order, split into chunks of ``SPARK_GRAFT_BENCH_CHUNK``
  (default 25), each chunk in its own ``python bench.py --worker``
  subprocess with its own SparkSession/JVM.  A query's within-session
  position is therefore bounded by the chunk size no matter how large the
  catalog grows.  Set CHUNK=0 for the old single-process mode (fast local
  iteration at sf0.01 where JVM boots dominate — NOTE: single-process mode
  also folds the r2 subset into the one session, so its r2_subset_total is
  not comparable to chunked runs);
- **median-of-5 for fast queries**: every query gets
  ``SPARK_GRAFT_BENCH_RUNS`` (default 3) timed runs after
  ``SPARK_GRAFT_BENCH_WARMUP`` (default 1) discarded warm-ups; if the
  3-run median lands under ``SPARK_GRAFT_BENCH_FAST_THRESHOLD`` seconds
  (default 2.0 — raised from 1.0 in r13, VERDICT r12 ask #4: r12's
  BENCH_DETAIL showed sub-2s queries with 2.2-2.6x intra-run sample
  spreads at n=3, producing phantom round-over-round regressions) the
  query is topped up to ``SPARK_GRAFT_BENCH_RUNS_FAST`` (default 5)
  total timed runs and the median is taken over all of them — short
  queries are the ones JIT/GC jitter flips;
- **min alongside median** (also r13, same ask): BENCH_DETAIL.json carries
  per-query ``mins`` plus ``r2_subset_total_min``; the min is the
  jitter-free floor, so a genuine regression moves BOTH statistics while
  scheduler noise moves only the median — compare rounds on that basis;
- **position-tagged samples**: BENCH_DETAIL.json records, per query, the
  ordinal of every execution within its JVM session (``positions``,
  warm-ups counted) plus the session-relative start offset in seconds
  (``start_offset``) and its chunk index (``chunk_of``), so
  position-correlated inflation is visible instead of inferred;
- **CPU-split-tagged samples** (r16 — VERDICT r15 ask #1: loadavg alone
  cannot distinguish a co-tenant from the engine's own local[N] saturation,
  so the r15 margin of 1.2x cpus left moderate co-tenants unflagged and
  every cross-round comparison unattributable).  Every timed sample now
  also records, from ``/proc``:
  ``cpu_self_cores``  — CPU-seconds consumed by the bench's own process
  tree (this worker + its JVM + Python workers, via /proc/<pid>/stat
  utime+stime walked over the descendant tree, plus reaped-child cutime/
  cstime) divided by the sample's wall-clock;
  ``cpu_other_cores`` — machine-wide busy CPU (/proc/stat, idle+iowait
  excluded) minus the self tree, divided by wall-clock: the number of
  cores OTHER processes burned during the sample.  This is a direct
  co-tenant measure at ANY self-load, so the flag threshold can be tight:
  samples with ``cpu_other_cores > SPARK_GRAFT_BENCH_OTHER_CORES_FLAG``
  (default 2.0) are flagged and trigger the same chunk-retry protocol as
  the loadavg rule.  Loadavg fields are retained unchanged for
  cross-round auditability;
- **load-tagged samples** (VERDICT r8 ask #5): the 1-minute load average is
  captured at every timed sample's start (``loads``, parallel to
  ``samples``) and once per chunk BEFORE its JVM boots (``ambient_load`` —
  the clean ambient signal; mid-run loadavg includes the bench's own work).
  Flag rule (VERDICT r10 ask #4 introduced ambient-relative flagging; r15
  extended it to EVERY chunk and recalibrated the margin): each chunk
  flags samples exceeding its own pre-boot ``ambient_load`` by
  ``SPARK_GRAFT_BENCH_LOAD_MARGIN`` (default 1.2x cpus since r15 — the
  scan-rebalanced engine legitimately saturates local[N], driving 1-min
  loads near N on an idle box, where the r14 mostly-serial engine peaked
  at +9.6 over ambient; the old absolute chunk-0 rule and 0.4x margin
  produced 41 false flags + retries on a zero-co-tenant r15 run).  The
  absolute ``SPARK_GRAFT_BENCH_LOAD_FLAG`` survives as the fallback when
  no ambient reading exists.  Flagged, never dropped, so judges can
  attribute outliers to machine contention instead of relitigating the
  environment;
- **flag-and-retry for EVERY chunk** (r14 — VERDICT r13 ask #3): any chunk
  with a flagged sample (absolute rule for chunk 0, ambient-relative for
  the rest) is replayed once in a fresh JVM in the same order; the attempt
  with fewer flagged samples is kept and the discarded attempt stays in
  BENCH_DETAIL (``r2_retry`` for chunk 0, ``chunk_retries`` for the rest);
- execution is forced through the noop sink (format("noop")), which computes
  every output column — ``count()`` lets Catalyst prune projection-only work
  (e.g. a fingerprint column) and under-measures.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import tempfile
import time

# The exact query set benched in round 2 (BENCH_r02.json) — frozen so
# `r2_subset_total` is comparable across every future round regardless of how
# the catalog grows or which queries are driver-visible.
R2_SUBSET = (
    "clean_enum_part_types type_audit_events profile_orders "
    "ds_find_machinery_customers ds_top_clickers ds_value_stats_by_type "
    "ds_unwind_token_counts ds_cond_price_buckets ds_regex_find ds_elem_match "
    "ds_sort_skip_limit ds_compound_group_key upsert_supplier_acctbal "
    "extreme_value_events lineitem_measure_stats multimodal_payload_features "
    "multimodal_frame_index streaming_hourly_rollup sessionize_events "
    "pricing_summary top_event_types find_building_customers orders_in_range "
    "nations_in_set events_with_large_k project_rename "
    "avg_balance_by_nation_segment avg_of_avgs_by_nation global_order_stats "
    "statuses_per_priority distinct_customers_with_orders "
    "top_order_per_priority top_tokens customers_per_region "
    "orders_of_top_customers orders_by_dayofweek order_age_days "
    "hourly_event_rollup nest_unnest_roundtrip cube_order_counts "
    "rollup_customer_counts pivot_segment_counts value_percentiles "
    "approx_distinct_users sql_revenue_by_nation nation_order_ranking "
    "text_token_stats text_quality_by_source lang_id_confusion "
    "dedup_exact_groups dedup_ngram_jaccard dedup_minhash_lsh dedup_simhash "
    "dedup_embedding_cosine ann_bruteforce_topk ann_lsh_topk ann_ivf_topk "
    "doc_fingerprints winnowing_fingerprints"
).split()

# Keep the emitted line comfortably under the driver's 2000-char tail capture.
MAX_LINE = 1900


def _env_conf() -> dict:
    return {
        "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "runs": max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))),
        "runs_fast": max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS_FAST", "5"))),
        "fast_threshold": float(
            os.environ.get("SPARK_GRAFT_BENCH_FAST_THRESHOLD", "2.0")
        ),
        "warmup": max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1"))),
        "chunk": max(0, int(os.environ.get("SPARK_GRAFT_BENCH_CHUNK", "25"))),
        # Ambient-contention flag threshold for CHUNK 0.  Calibration (r10,
        # VERDICT r9 ask #3): r9's run carried 1-min loads of 2.7-8.4 and
        # demonstrably swung sub-second medians ~1.8x, yet the old default
        # (1.5x cpus = 48) never fired.  0.2x cpus (= 6.4 on the 32-cpu
        # driver box) trips on that contention band.  The absolute rule is
        # sound ONLY for chunk 0 (the frozen r2 subset): its ambient is
        # measured before any bench JVM boots, so the lagging 1-min average
        # there is genuinely ambient (measured 1.2-4.6 on an idle box) and a
        # trip drives the protocol-preserving retry below.  Falls back to
        # os.cpu_count() when SPARK_GRAFT_CPUS is unset (ADVICE r9) so a
        # smaller box still flags.
        "load_flag": float(
            os.environ.get(
                "SPARK_GRAFT_BENCH_LOAD_FLAG",
                str(0.2 * int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))),
            )
        ),
        # Flag margin over each chunk's pre-boot ambient load (VERDICT r10
        # ask #4 established the ambient-relative rule; r15 recalibrated
        # the margin): loadavg during a chunk includes the bench's OWN
        # work, and the r15 scan-rebalance made the engine genuinely
        # parallel — an idle-box run now drives 1-min loads of 16-25+
        # (measured, BENCH_DETAIL of the first r15 run: 41 false flags and
        # chunk retries with zero co-tenants, where the r14 mostly-serial
        # engine peaked at +9.6 over ambient).  A saturating local[N]
        # bench can legitimately sit near N runnable threads, so the
        # margin defaults to 1.2x cpus: self-saturation clears, while a
        # co-tenant of comparable size (which stacks ON TOP of ours) still
        # trips.  The old 0.4x value is one env var away for serial-era
        # comparisons.  Known tradeoff, documented in OPTIMIZATION_r15.md:
        # loadavg alone cannot distinguish a small co-tenant from our own
        # saturation on a parallel engine.
        "load_margin": float(
            os.environ.get(
                "SPARK_GRAFT_BENCH_LOAD_MARGIN",
                str(1.2 * int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))),
            )
        ),
        # One full re-run of ANY chunk whose samples landed above its flag
        # threshold (r14 extends the r10 r2-subset-only protocol to the
        # whole window — VERDICT r13 ask #3: the catalog chunks carrying
        # the round's three biggest apparent regressions ran at ambient
        # load 9.6-13.7 with no retry).  Protocol-preserving: the retry
        # replays the chunk in the same order in its own fresh JVM, so
        # cross-round comparability holds; a per-query retry would not —
        # session position is worth 2-3x on sub-second queries.  Chunk 0
        # retries on the absolute threshold, later chunks on the
        # ambient-relative rule (their loadavg carries bench self-load).
        # NOTE: the retry only exists in the chunked path; with
        # SPARK_GRAFT_BENCH_CHUNK=0 (single-process local iteration) it is a
        # deliberate no-op — an in-process replay would not reproduce the r2
        # protocol (no fresh JVM, no frozen session context), and that
        # mode's r2_subset_total is already documented as non-comparable.
        "retry_flagged": os.environ.get("SPARK_GRAFT_BENCH_RETRY_FLAGGED", "1")
        not in ("0", "", "false"),
        # Per-sample OTHER-process CPU flag (r16 — VERDICT r15 ask #1): cores
        # of machine CPU burned by processes OUTSIDE the bench's own tree
        # during a timed sample.  Unlike loadavg this signal is insensitive
        # to the bench's own local[N] saturation, so the default threshold
        # is tight (2.0 cores; idle-box daemons measure <0.2).
        "other_cores_flag": float(
            os.environ.get("SPARK_GRAFT_BENCH_OTHER_CORES_FLAG", "2.0")
        ),
    }


def _loadavg() -> float | None:
    """1-minute load average, None where unsupported."""
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


try:
    _CLK_TCK = os.sysconf("SC_CLK_TCK") or 100
except (AttributeError, ValueError, OSError):  # pragma: no cover - non-POSIX
    _CLK_TCK = 100


# PIDs ever observed inside this process's descendant tree.  Sticky on
# purpose: pyspark daemons/workers can be REPARENTED out of the tree
# (double-fork/orphaning), and a naive tree walk would then flip their whole
# accumulated CPU from "self" to "other" between two snapshots (measured:
# phantom cpu_other_cores of 100+ on an idle 32-core box).  Once ours,
# always ours.
_OURS: set[int] = set()


def _cpu_snapshot() -> tuple[float, dict[int, int]] | None:
    """(machine_busy_cpu_seconds, {pid: cpu_jiffies}) since boot, plus a
    side effect: every pid currently reachable from this process's tree is
    added to the sticky ``_OURS`` set.

    machine busy = /proc/stat cpu line minus idle+iowait.  Per-pid CPU =
    utime+stime+cutime+cstime (reaped-child time folds into the reaping
    parent, so a short-lived worker's CPU survives its exit as long as its
    parent is ours).  The caller computes per-window deltas per pid and
    attributes each pid via ``_OURS`` — see ``_cpu_window_split``.  None
    where /proc is unavailable."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        # user nice system idle iowait irq softirq steal [guest guest_nice];
        # guest time is already folded into user on Linux
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        busy = sum(vals[:8]) - idle
        me = os.getpid()
        cpu: dict[int, int] = {}
        ppids: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read()
            except OSError:  # raced a process exit
                continue
            # comm may contain spaces/parens: fields resume after the LAST ')'
            fields = st[st.rindex(")") + 2 :].split()
            # fields: [0]=state [1]=ppid ... [11]=utime [12]=stime
            #         [13]=cutime [14]=cstime
            pid = int(d)
            ppid = int(fields[1])
            if pid == 2 or ppid == 2:
                # kernel threads (kthreadd's children): their CPU (writeback,
                # kworkers servicing OUR I/O) is in /proc/stat busy but in no
                # user process — counting them as "other" false-flags heavy
                # shuffle/write phases.  Excluded from both sides.
                continue
            ppids[pid] = ppid
            cpu[pid] = (
                int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
            )
        children: dict[int, list[int]] = {}
        for pid, ppid in ppids.items():
            children.setdefault(ppid, []).append(pid)
        stack = [me]
        while stack:
            pid = stack.pop()
            if pid in cpu:
                _OURS.add(pid)
                stack.extend(children.get(pid, ()))
        # a child of an ever-ours pid is ours even if the tree root link
        # broke (reparent happens above us, never between daemon+worker)
        for pid, ppid in ppids.items():
            if ppid in _OURS:
                _OURS.add(pid)
        return busy / _CLK_TCK, cpu
    except Exception:
        return None


def _cpu_window_split(
    snap0: tuple[float, dict[int, int]] | None,
    snap1: tuple[float, dict[int, int]] | None,
    wall: float,
) -> tuple[float | None, float | None]:
    """(self_cores, other_cores) for one timed window.

    self = Σ per-pid CPU deltas over pids in the sticky ``_OURS`` set
    (pids seen in both snapshots diff normally; pids born in-window count
    their full CPU; pids that exited are covered by their reaper's cutime
    delta when the reaper is ours).  other = machine busy delta − self,
    clamped ≥ 0.  Misattribution is bounded to the rare orphan reaped by
    init — a few jiffies, far under the flag threshold."""
    if snap0 is None or snap1 is None or wall <= 0:
        return None, None
    _busy0, cpu0 = snap0
    _busy1, cpu1 = snap1
    ours_jiffies = 0
    other_jiffies = 0
    for pid, c1 in cpu1.items():
        delta = c1 - cpu0.get(pid, 0)
        if pid in _OURS:
            ours_jiffies += delta
        else:
            # direct per-pid sum over non-ours USER processes: immune to the
            # kernel-thread noise a busy-minus-self residual picks up (our
            # own I/O drives kworker CPU), and a real co-tenant is a
            # long-running user process, exactly what this sums
            other_jiffies += max(0, delta)
    self_cores = max(0.0, ours_jiffies / _CLK_TCK / wall)
    other_cores = other_jiffies / _CLK_TCK / wall
    return round(self_cores, 2), round(other_cores, 2)


def _run_chunk(names: list[str], conf: dict) -> dict[str, dict]:
    """Run `names` in THIS process's SparkSession; returns per-query detail.

    Called by --worker subprocesses (fresh JVM per chunk) or directly in
    single-process mode (chunk=0).
    """
    os.environ.setdefault("SPARK_GRAFT_CPUS", conf["cpus"])

    from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES
    from data_wrangling_with_openstreetmap_and_mongodb_spark.session import get_spark

    spark = get_spark(
        "bench",
        master=f"local[{conf['cpus']}]",
        # No console progress bars: the driver tail-captures combined output
        # and a late progress repaint could push the JSON line out of view.
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf_dir = conf["sf_dir"]
    session_t0 = time.perf_counter()
    # Warm the JVM once per session (excluded from per-query timings):
    # parquet footers via a real catalog query, then a synthetic
    # scan→shuffle→noop-write so the codegen compiler, shuffle machinery and
    # noop sink classload before the first timed sample (fresh-JVM chunks
    # would otherwise tax each chunk's first queries with one-time costs).
    try:
        QUERIES["pricing_summary"].fn(spark, sf_dir).count()
        import pyspark.sql.functions as F

        (
            spark.range(1_000_000)
            .groupBy((F.col("id") % 97).alias("k"))
            .agg(F.sum("id").alias("s"), F.avg("id").alias("a"))
            .write.format("noop").mode("overwrite").save()
        )
    except Exception as exc:
        print(f"bench: warm-up failed: {exc}", file=sys.stderr)

    out: dict[str, dict] = {}
    position = 0  # ordinal of every timed execution within this JVM session
    for name in names:
        q = QUERIES.get(name)
        if q is None:
            out[name] = {"err": "unknown query"}
            continue
        rec = {
            "samples": [],
            "positions": [],
            "loads": [],
            "cpu_self_cores": [],
            "cpu_other_cores": [],
            "warmup_samples": [],
            "start_offset": round(time.perf_counter() - session_t0, 2),
        }

        def timed_exec() -> float:
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        def timed_sample() -> None:
            rec["loads"].append(_loadavg())
            snap0 = _cpu_snapshot()
            dt = timed_exec()
            snap1 = _cpu_snapshot()
            rec["samples"].append(round(dt, 4))
            rec["positions"].append(position)
            self_c, other_c = _cpu_window_split(snap0, snap1, dt)
            rec["cpu_self_cores"].append(self_c)
            rec["cpu_other_cores"].append(other_c)

        try:
            for _ in range(conf["warmup"]):
                position += 1
                rec["warmup_samples"].append(round(timed_exec(), 4))
            for _ in range(conf["runs"]):
                position += 1
                timed_sample()
            # sub-second queries are the jitter-prone ones: top up to the
            # fast-run count so their median rests on 5 samples, not 3
            if (
                statistics.median(rec["samples"]) < conf["fast_threshold"]
                and conf["runs_fast"] > conf["runs"]
            ):
                for _ in range(conf["runs_fast"] - conf["runs"]):
                    position += 1
                    timed_sample()
        except Exception as exc:  # keep benching even if one query regresses
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            rec["err"] = str(exc)[:300]
        out[name] = rec

    spark.stop()
    return out


def _worker(in_path: str, out_path: str) -> None:
    with open(in_path) as f:
        payload = json.load(f)
    result = _run_chunk(payload["names"], payload["conf"])
    with open(out_path, "w") as f:
        json.dump(result, f)


def main() -> None:
    conf = _env_conf()
    sf_dir = conf["sf_dir"]

    # Importing the queries package does NOT start a JVM — safe in the parent.
    from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES, driver_catalog

    all_names = sorted(QUERIES)  # stable order: insertion order drifts as
    # the catalog grows; sorted names keep most queries' chunk assignment
    # (and hence within-session position) stable across rounds
    chunk = conf["chunk"]
    # chunk 0 is ALWAYS the frozen r2 subset in its frozen order (see the
    # protocol notes); the rest of the catalog fills sorted-name chunks
    r2_present = [n for n in R2_SUBSET if n in QUERIES]
    others = [n for n in all_names if n not in set(r2_present)]
    chunks = (
        [r2_present]
        + [others[i : i + chunk] for i in range(0, len(others), chunk)]
        if chunk
        else [all_names]
    )

    def _flagged(recs: dict[str, dict], threshold: float | None = None) -> list[str]:
        """Queries with any contended sample: loadavg over the chunk's
        threshold, OR other-process CPU over the (self-load-insensitive)
        other-cores threshold — the r16 signal that restores co-tenant
        detection on a self-saturating engine (VERDICT r15 ask #1)."""
        thr = conf["load_flag"] if threshold is None else threshold
        other_thr = conf["other_cores_flag"]
        return sorted(
            n
            for n, rec in recs.items()
            if any(
                ld is not None and ld > thr
                for ld in (rec.get("loads") or [])
            )
            or any(
                oc is not None and oc > other_thr
                for oc in (rec.get("cpu_other_cores") or [])
            )
        )

    def _run_worker(names: list[str], script: str, label: str) -> dict[str, dict]:
        with tempfile.NamedTemporaryFile(
            "w", suffix=".json", delete=False
        ) as fin, tempfile.NamedTemporaryFile(suffix=".json", delete=False) as fout:
            json.dump({"names": names, "conf": conf}, fin)
            in_path, out_path = fin.name, fout.name
        try:
            proc = subprocess.run(
                [sys.executable, script, "--worker", in_path, out_path],
                stdout=sys.stderr,  # workers print nothing useful; keep
                # stdout clean for the single JSON line
                stderr=sys.stderr,
            )
            if proc.returncode != 0:
                raise RuntimeError(f"worker rc={proc.returncode}")
            with open(out_path) as f:
                return json.load(f)
        except Exception as exc:
            print(f"bench: chunk {label} failed entirely: {exc}", file=sys.stderr)
            return {n: {"err": f"chunk failed: {exc}"[:300]} for n in names}
        finally:
            for p in (in_path, out_path):
                try:
                    os.unlink(p)
                except OSError:
                    pass

    details: dict[str, dict] = {}
    ambient_load: dict[str, float | None] = {}
    r2_retry_info: dict | None = None
    chunk_retries: dict[str, dict] = {}
    if chunk == 0:
        ambient_load["0"] = _loadavg()
        details = _run_chunk(all_names, conf)
    else:
        script = os.path.abspath(__file__)
        for ci, names in enumerate(chunks):
            # ambient = before this chunk's JVM boots; mid-run loadavg
            # includes the bench itself
            amb = _loadavg()
            ambient_load[str(ci)] = amb
            got = _run_worker(names, script, str(ci))
            if conf["retry_flagged"]:
                # flag-and-retry, EVERY chunk (r14 — VERDICT r13 ask #3:
                # r13's three biggest apparent regressions sat in catalog
                # chunks running at ambient load 9.6-13.7 with no retry,
                # while the r2 subset retried correctly).  Chunk 0 keeps the
                # absolute threshold (its ambient is genuinely pre-bench);
                # later chunks use the ambient-relative rule, same as the
                # flag reporting, so the bench's own decayed load never
                # triggers a retry.  One retry per chunk, fresh JVM, same
                # order (protocol-preserving); keep whichever attempt
                # carried fewer flagged samples — the discarded attempt
                # stays in BENCH_DETAIL for audit.
                # r15: chunk 0 joins the ambient-relative rule — its
                # pre-boot ambient is genuinely pre-bench, and the
                # parallel engine's own load now exceeds any absolute
                # threshold an idle box would satisfy (the absolute rule
                # retried chunk 0 on every r15 run).  Absolute only as the
                # no-ambient fallback.
                thr = (
                    conf["load_flag"]
                    if amb is None
                    else amb + conf["load_margin"]
                )
                first_flagged = _flagged(got, thr)
                if first_flagged:
                    label = "r2_retry" if ci == 0 else f"c{ci}_retry"
                    amb2 = _loadavg()
                    ambient_load[label] = amb2
                    retry = _run_worker(names, script, label)
                    thr2 = (
                        conf["load_flag"]
                        if amb2 is None
                        else amb2 + conf["load_margin"]
                    )
                    retry_flagged = _flagged(retry, thr2)
                    retry_errs = [n for n, r in retry.items() if r.get("err")]
                    use_retry = (
                        len(retry_flagged) < len(first_flagged) and not retry_errs
                    )
                    info = {
                        "first_flagged": first_flagged,
                        "retry_flagged": retry_flagged,
                        # errors are part of WHY a retry was rejected
                        # (ADVICE r10): keep them auditable
                        "retry_errs": {
                            n: retry[n].get("err") for n in retry_errs
                        },
                        "attempt_used": "retry" if use_retry else "first",
                        "discarded_attempt": {
                            n: {
                                "samples": r.get("samples") or [],
                                "loads": r.get("loads") or [],
                                "cpu_other_cores": r.get("cpu_other_cores") or [],
                                **({"err": r["err"]} if r.get("err") else {}),
                            }
                            for n, r in (got if use_retry else retry).items()
                        },
                    }
                    if ci == 0:
                        r2_retry_info = info
                    else:
                        chunk_retries[str(ci)] = info
                    if use_retry:
                        got = retry
                        # the flag threshold for this chunk's kept samples
                        # must use the KEPT attempt's pre-boot ambient
                        ambient_load[str(ci)] = amb2
            for n, rec in got.items():
                rec["chunk"] = ci
            details.update(got)

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    timings: dict[str, float | None] = {}
    mins: dict[str, float | None] = {}
    for name in all_names:
        rec = details.get(name) or {}
        samples = rec.get("samples") or []
        timings[name] = round(statistics.median(samples), 4) if samples else None
        mins[name] = round(min(samples), 4) if samples else None

    def _flag_threshold_for(name: str) -> float:
        """Per-sample flag threshold (see module docstring): every chunk is
        ambient-relative since r15 (the parallel engine's own load exceeds
        any idle-box absolute threshold); absolute rule only when no
        ambient reading exists."""
        ci = details.get(name, {}).get("chunk", 0)
        amb = ambient_load.get(str(ci))
        if amb is None:  # no ambient reading: fall back to the absolute rule
            return conf["load_flag"]
        return amb + conf["load_margin"]

    total = round(sum(t for t in timings.values() if t is not None), 4)
    r2_subset_total = round(
        sum(timings.get(n) or 0.0 for n in R2_SUBSET if timings.get(n) is not None), 4
    )
    visible = set(driver_catalog())

    detail = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n": conf["runs"],
        "n_fast": conf["runs_fast"],
        "fast_threshold": conf["fast_threshold"],
        "cpus": int(conf["cpus"]),
        "chunk_size": chunk,
        "n_chunks": len(chunks),
        "r2_subset_total": r2_subset_total,
        "r2_subset_total_min": round(
            sum(mins.get(n) or 0.0 for n in R2_SUBSET if mins.get(n) is not None), 4
        ),
        "r2_subset_missing": [n for n in R2_SUBSET if timings.get(n) is None],
        "warmup": conf["warmup"],
        "queries": timings,
        "mins": mins,
        "samples": {n: (details[n].get("samples") or []) for n in all_names if n in details},
        "warmup_samples": {
            n: (details[n].get("warmup_samples") or []) for n in all_names if n in details
        },
        "positions": {
            n: (details[n].get("positions") or []) for n in all_names if n in details
        },
        "start_offset": {
            n: details[n].get("start_offset") for n in all_names if n in details
        },
        "chunk_of": {n: details[n].get("chunk", 0) for n in all_names if n in details},
        "loads": {n: (details[n].get("loads") or []) for n in all_names if n in details},
        "cpu_self_cores": {
            n: (details[n].get("cpu_self_cores") or []) for n in all_names if n in details
        },
        "cpu_other_cores": {
            n: (details[n].get("cpu_other_cores") or []) for n in all_names if n in details
        },
        "other_cores_flag": conf["other_cores_flag"],
        "cpu_flagged": sorted(
            n
            for n in all_names
            if n in details
            and any(
                oc is not None and oc > conf["other_cores_flag"]
                for oc in (details[n].get("cpu_other_cores") or [])
            )
        ),
        "ambient_load": ambient_load,
        "load_threshold": conf["load_flag"],
        "load_margin": conf["load_margin"],
        "r2_retry": r2_retry_info,
        "chunk_retries": chunk_retries,
        "load_flagged": sorted(
            n
            for n in all_names
            if n in details
            and any(
                ld is not None and ld > _flag_threshold_for(n)
                for ld in (details[n].get("loads") or [])
            )
        ),
        "errors": {
            n: details[n]["err"] for n in all_names if details.get(n, {}).get("err")
        },
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=False)
    except OSError as exc:
        print(f"bench: could not write {detail_path}: {exc}", file=sys.stderr)

    # Inline map: driver-visible queries only, 2-decimal, slowest-first so a
    # truncated tail still shows the queries that matter; trim from the fast
    # end if the line would exceed the driver's capture window.
    inline = {
        k: (round(v, 2) if v is not None else None)
        for k, v in sorted(
            ((k, v) for k, v in timings.items() if k in visible),
            key=lambda kv: -(kv[1] or 0.0),
        )
    }

    def line_for(qmap: dict[str, float | None]) -> str:
        return json.dumps(
            {
                "metric": "catalog_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n": conf["runs"],
                "r2_subset_total": r2_subset_total,
                "queries": qmap,
            },
            separators=(",", ":"),
        )

    out = line_for(inline)
    while len(out) > MAX_LINE and inline:
        inline.pop(next(reversed(inline)))  # drop the fastest remaining query
        out = line_for(inline)

    # Printed LAST so no late executor/shutdown chatter can land between the
    # JSON line and EOF in a combined-stream capture (workers write to stderr).
    print(out, flush=True)


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--worker":
        _worker(sys.argv[2], sys.argv[3])
    else:
        main()
