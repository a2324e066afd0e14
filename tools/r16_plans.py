"""Dump .explain("formatted") for the r16 optimization evidence.

Usage:
  python tools/r16_plans.py before|after [query ...]

Writes plans/r16/<query>_<suffix>.txt at the repo root, generated from the
CURRENT tree (VERDICT r15 ask #2: every committed plan dump must be
reproducible from HEAD — the 14 stale r15 "after" dumps were generated on
the rejected blanket-spread tree; plans/r16 supersedes them).

The suffix only labels the output file: both arms dump the plans of the
current tree, so a before/after pair brackets a change by running the tool
once on each checkout.  Queries whose construction executes jobs
(streaming rows, $merge/$out materializations, iterative loops,
trained-index builds) still work — construction cost is paid, the plan
written is the returned DataFrame's.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Default pick list: every query r16 claims a plan change or a material
# timing change for, plus the 14 queries whose r15 "after" dumps were stale
# (regenerated here from HEAD so committed evidence matches shipped code).
PICKS = [
    # r15 stale-dump regeneration set (VERDICT r15 "What's wrong" #1)
    "sql_revenue_by_nation",
    "shipping_priority_top10",
    "pricing_summary",
    "ds_lookup_topn",
    "lineitem_measure_stats",
    "type_audit_events",
    "events_trailing_avg_1h",
    "nb_lang_confusion",
    "vocab_encode_stats",
    "dedup_exact_groups",
    "multimodal_bmp_resize",
    "multimodal_wav_resample",
    "multimodal_media_decode",
    "multimodal_payload_features",
    "text_repetition_metrics",
    # r16 optimization targets
    "dedup_ngram_jaccard",
    "dedup_near_clusters",
    "dedup_keep_best_docs",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "dedup_simhash",
    "dedup_simhash_k2",
    "ann_ivfpq_topk",
    "ann_pq_topk",
    "ann_ivf_kmeans_topk",
    "hybrid_search_rrf",
    "supplier_customer_pagerank",
    "ds_graph_reachable_orders",
]


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:] or PICKS
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES
    from data_wrangling_with_openstreetmap_and_mongodb_spark.session import get_spark

    spark = get_spark("r16-plans", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(root, "plans", "r16")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        q = QUERIES.get(name)
        if q is None:
            print(f"skip unknown {name}", file=sys.stderr)
            continue
        df = q.fn(spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — {suffix} (sf_dir={sf})\n\n{plan}")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
