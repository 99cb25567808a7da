"""Collection-typed results and shared-scan fan-out shapes.

The reference's plugins emit map- and array-valued result documents
(step-transition maps in consensus-timing P5, by-step/by-type count maps
in timeout-analysis P8, connected-peer sets in network-latency P7d).
Spark builds those with collect_list/collect_set/map_from_entries; for
oracle checking the collections are canonicalized to sorted strings
(map/array equality across engines is not hash-stable, SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register


@register(
    "q82_collect_set_agg",
    tags=("agg", "collect"),
    oracle="""
SELECT user_id,
       coalesce(
         array_to_string(
           list_sort(list(DISTINCT event_type) FILTER (event_type IS NOT NULL)), ','),
         '') AS seen_types,
       count(DISTINCT event_type) AS n_types,
       count(*) AS n_events
FROM events
GROUP BY user_id
""",
)
def q82_collect_set_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set collection per key — connected-peers sets (P7d,
    /root/reference/ossplugins/network-latency/processor.go:399-447),
    canonicalized to a sorted CSV string."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("seen_types"),
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q83_map_style_agg",
    tags=("agg", "map"),
    oracle="""
WITH counts AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       -- null event_type makes the concat NULL in both engines;
       -- Spark's collect_list then yields '' for an all-null group
       -- where string_agg yields NULL — coalesce to match
       coalesce(
         string_agg(event_type || ':' || CAST(n AS VARCHAR), ';' ORDER BY event_type),
         '') AS type_counts,
       sum(n)::BIGINT AS n_events
FROM counts
GROUP BY user_id
""",
)
def q83_map_style_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-key count map per key — TimeoutsByStep / StepDurations maps
    (P5/P8, /root/reference/ossplugins/consensus-timing/processor.go:14-15,
    /root/reference/ossplugins/timeout-analysis/processor.go:29-30). The
    engine-side library builds real MapType columns via map_from_entries;
    here the map is canonicalized to a sorted `k:v;…` string for the
    oracle hash."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.concat("event_type", F.lit(":"), F.col("n").cast("string")))),
            ";",
        ).alias("type_counts"),
        F.sum("n").alias("n_events"),
    )


@register(
    "q84_pivot_counts",
    tags=("agg", "pivot"),
    oracle="""
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'view') AS n_view,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       count(*) FILTER (WHERE event_type = 'error') AS n_error
FROM events
GROUP BY user_id
""",
)
def q84_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to fixed per-kind columns — the per-message-type stat
    fan-out in network-latency (P7b MessageTypes map keyed by a known
    vocabulary) as an explicit-values pivot."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    kinds = ["click", "view", "purchase", "signup", "error"]
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    out = pivoted.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds]
    )
    return out
