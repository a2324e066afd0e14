"""Scaling-evidence pass (VERDICT r7 ask #5): run the heaviest catalog
queries at sf0.1 and at the derived 10x set (tools/make_scale10.py),
report time(10x)/time(1x) — the measured check behind every "this plan
scales" docstring claim.  Results land in PLANS.md by hand.

Usage: python tools/scaling_pass.py [query ...]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT = [
    "dedup_keep_best_docs",
    "supplier_customer_pagerank",
    "ann_ivfpq_topk",
    "ds_regex_extract",
    "ds_graph_reachable_orders",
    "ds_window_integral",
    "dedup_near_clusters",
    "dedup_incremental_minhash",
    "events_gap_interpolated",
    "decontaminate_ngrams",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES
    from data_wrangling_with_openstreetmap_and_mongodb_spark.session import get_spark

    spark = get_spark(
        "scaling",
        master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # override when only the tables a query set touches were replicated
    # (e.g. .scaledata/r11x10 holds customer/orders/events/documents); the
    # result key is then the replica dir's basename, NOT 'sf1', so partial-
    # replica measurements are never recorded as genuine sf1 numbers
    ten_dir = os.environ.get("SPARK_GRAFT_SCALE10_DIR")
    ten_label = os.path.basename(ten_dir.rstrip("/")) if ten_dir else "sf1"
    dirs = {
        "sf0.1": "/root/testdata/sf0.1",
        ten_label: ten_dir or os.path.join(REPO, ".scaledata", "sf1"),
    }
    out: dict[str, dict] = {}
    for name in names:
        q = QUERIES[name]
        rec: dict[str, float | None] = {}
        for label, d in dirs.items():
            try:
                samples = []
                for i in range(3):  # 1 warmup + 2 timed
                    t0 = time.perf_counter()
                    q.fn(spark, d).write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                    if i:
                        samples.append(dt)
                rec[label] = round(statistics.median(samples), 3)
            except Exception as exc:
                print(f"{name}@{label} failed: {exc}", file=sys.stderr)
                rec[label] = None
        if rec.get("sf0.1") and rec.get(ten_label):
            rec["ratio"] = round(rec[ten_label] / rec["sf0.1"], 2)
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
    spark.stop()
    print("FINAL " + json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
