"""Physical-plan inspection utilities (SURVEY.md §4).

The engine adds no custom Catalyst rules — every optimization the reference
hand-rolls (filter-first pipelines, projection-before-sort, top-k early
limit, streaming single-pass scans) is Catalyst-built-in.  What the engine
*does* own is verifying those optimizations actually fire: these helpers
make plan properties assertable in tests and inspectable in benchmarks, so a
regression that silently drops a pushdown or broadcasts the wrong side fails
CI instead of surfacing as a 100× slowdown at cluster scale.
"""

from data_wrangling_with_openstreetmap_and_mongodb_spark.plans.inspect import (
    assert_plan,
    executed_plan,
    has_broadcast_join,
    has_partial_aggregation,
    has_pushed_filters,
    has_top_k,
    pushed_filters,
    read_schema_columns,
)

__all__ = [
    "assert_plan",
    "executed_plan",
    "has_broadcast_join",
    "has_partial_aggregation",
    "has_pushed_filters",
    "has_top_k",
    "pushed_filters",
    "read_schema_columns",
]
