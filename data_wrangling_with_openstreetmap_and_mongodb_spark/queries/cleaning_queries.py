"""Catalog queries exercising the cleaning DSL + audit operators through the
driver's oracle gate (SURVEY.md §2.7)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from data_wrangling_with_openstreetmap_and_mongodb_spark.catalog import load_table
from data_wrangling_with_openstreetmap_and_mongodb_spark.functions import lower_enum
from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.audit import (
    audit_types,
    profile,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import davg, davg_sql
from data_wrangling_with_openstreetmap_and_mongodb_spark.queries.registry import register


@register(
    "clean_enum_part_types",
    oracle=f"""
        SELECT lower(trim(p_type)) AS ptype, COUNT(*) AS cnt, {davg_sql("p_retailprice")} AS avg_price
        FROM part
        GROUP BY ptype
    """,
    doc="C6/C7 enum lowering + trim in the agg key (04/autos.py:153-157).  "
    "Evicted from the driver window in the r11 rotation (driver-green "
    "r1-r10; cleaning family stays visible via type_audit_events, agg "
    "shapes via pricing_summary); still oracle-gated at sf0.01.",
    tags=("cleaning", "agg"),
)
def clean_enum_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy(lower_enum(F.col("p_type")).alias("ptype"))
        .agg(F.count(F.lit(1)).alias("cnt"), davg("p_retailprice").alias("avg_price"))
    )


@register(
    "type_audit_events",
    oracle="""
        WITH stacked AS (
            SELECT 'props' AS field, CAST(props AS VARCHAR) AS value FROM events
            UNION ALL
            SELECT 'value' AS field, CAST(value AS VARCHAR) AS value FROM events
            UNION ALL
            SELECT 'event_type' AS field, CAST(event_type AS VARCHAR) AS value FROM events
            UNION ALL
            SELECT 'user_id' AS field, CAST(user_id AS VARCHAR) AS value FROM events
        ), tagged AS (
            SELECT field,
                   CASE WHEN value IS NULL OR value IN ('NULL', '') THEN 'NoneType'
                        WHEN starts_with(value, '{') THEN 'list'
                        WHEN regexp_matches(value, '^-?[0-9]+$')
                             AND TRY_CAST(value AS BIGINT) IS NOT NULL THEN 'int'
                        WHEN TRY_CAST(value AS DOUBLE) IS NOT NULL THEN 'float'
                        ELSE 'str' END AS type_tag
            FROM stacked
        )
        SELECT field, array_to_string(list_sort(list(DISTINCT type_tag)), ',') AS types
        FROM tagged
        GROUP BY field
    """,
    doc="C19/A12 type audit: unpivot → classify → set-agg (03/audit.py:37-59)"
    "  Evicted from the driver window in the r12 rotation (driver-green r1-r11); still oracle-gated at sf0.01.",
    tags=("cleaning", "audit"),
)
def type_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return audit_types(ev, ["props", "value", "event_type", "user_id"])


@register(
    "profile_orders",
    oracle="""
        WITH stacked AS (
            SELECT 'o_orderstatus' AS field, CAST(o_orderstatus AS VARCHAR) AS value FROM orders
            UNION ALL
            SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
            UNION ALL
            SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        ), tagged AS (
            SELECT field, value,
                   CASE WHEN value IS NULL OR value IN ('NULL', '') THEN 'NoneType'
                        WHEN starts_with(value, '{') THEN 'list'
                        WHEN regexp_matches(value, '^-?[0-9]+$')
                             AND TRY_CAST(value AS BIGINT) IS NOT NULL THEN 'int'
                        WHEN TRY_CAST(value AS DOUBLE) IS NOT NULL THEN 'float'
                        ELSE 'str' END AS type_tag
            FROM stacked
        )
        SELECT field,
               COUNT(*) AS n_rows,
               COUNT(*) FILTER (WHERE value IS NULL) AS n_nulls,
               COUNT(DISTINCT value) AS n_distinct,
               MIN(value) AS min_value,
               MAX(value) AS max_value,
               array_to_string(list_sort(list(DISTINCT type_tag)), ',') AS types
        FROM tagged
        GROUP BY field
    """,
    doc="one-pass column profile: counts/nulls/distinct/min/max/type-set per "
    "field (lesson-03 quality audit generalized; C19+A8+A12 in one shuffle).  "
    "Rotated out of the driver window in r9 (VERDICT r8 ask #1: unpivot+"
    "classify+set-agg path shared with type_audit_events; slot given to "
    "shuffled_shard_manifest); still in the local parity gate.",
    tags=("cleaning", "audit", "profile"),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return profile(o, ["o_orderstatus", "o_orderpriority", "o_custkey"])
