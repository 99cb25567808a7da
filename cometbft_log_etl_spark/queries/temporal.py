"""Temporal operators over the `events` stream table: hypertable-style
multi-resolution rollups and the as-of join.

These expose, on the driver's testdata, the two time-series shapes the
log engine uses internally: the continuous-aggregate rollup (a
timescale "hypertable" materialization — one shuffle produces every
resolution) and the as-of enrichment that plans/_matching.asof_attach
implements for step-start lookups. The DuckDB oracle for q65 uses
DuckDB's native ASOF JOIN, so the window-based Spark implementation is
cross-checked against an independent algorithm, not a transliteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register

_RESOLUTIONS = (60, 300, 3600)  # seconds


@register(
    "q48_time_bucket_rollup",
    tags=("temporal", "rollup", "window"),
    oracle=f"""
WITH r AS (
  SELECT e.event_type, e.value, unnest([{", ".join(map(str, _RESOLUTIONS))}]) AS resolution_s,
         e.ts
  FROM events e
),
b AS (
  SELECT resolution_s, event_type,
         make_timestamp((epoch_us(ts) // (CAST(resolution_s AS BIGINT) * 1000000))
                        * CAST(resolution_s AS BIGINT) * 1000000) AS bucket_start,
         value
  FROM r
)
SELECT resolution_s, bucket_start, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM b
GROUP BY resolution_s, bucket_start, event_type
""",
)
def q48_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time-bucket rollup (1 min / 5 min / 1 h).

    The resolution explode happens BEFORE the aggregation so all
    resolutions materialize in one shuffle — the hypertable
    continuous-aggregate shape; bucket arithmetic stays in integer
    epoch-micros so both engines bucket identically.
    """
    ev = load(spark, sf_dir, "events")
    r = ev.select(
        "event_type",
        "value",
        "ts",
        F.explode(F.array(*[F.lit(x) for x in _RESOLUTIONS])).alias("resolution_s"),
    )
    res_us = F.col("resolution_s").cast("long") * 1_000_000
    bucket = F.timestamp_micros(
        (F.unix_micros("ts") - F.pmod(F.unix_micros("ts"), res_us)).cast("long")
    )
    return (
        r.withColumn("bucket_start", bucket)
        .groupBy("resolution_s", "bucket_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
        )
    )


@register(
    "q35_asof_enrich",
    tags=("temporal", "asof", "join"),
    oracle="""
SELECT c.event_id,
       c.user_id,
       c.ts AS click_ts,
       c.value AS click_value,
       v.ts AS last_view_ts,
       v.value AS last_view_value,
       CASE WHEN v.ts IS NOT NULL
            THEN (epoch_us(c.ts) - epoch_us(v.ts)) // 1000 END AS ms_since_view
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'view'
  ) WHERE rn = 1
) v
  ON c.user_id = v.user_id AND c.ts >= v.ts
""",
)
def q35_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the user's latest view at-or-before it.

    Implemented as the union + running-last window (one shuffle on
    user_id, no join) — the same plan plans/_matching.asof_attach uses
    for last-writer-wins step-start lookups; the oracle runs DuckDB's
    NATIVE ASOF JOIN, making this a two-algorithm cross-check. Views
    are deduplicated to one per (user_id, ts) keeping the highest
    event_id on BOTH sides, so same-timestamp ties cannot make the two
    algorithms diverge.
    """
    from ..plans._matching import asof_attach

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("timestamp"), F.col("value").alias("click_value")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "event_id",
        F.col("ts").alias("timestamp"),
        F.struct(F.col("ts").alias("vts"), F.col("value").alias("vval")).alias("view_mark"),
    )
    enriched = asof_attach(
        clicks, views, ["user_id"], "view_mark", mark_tiebreak_col="event_id"
    )
    return enriched.select(
        "event_id",
        "user_id",
        F.col("timestamp").alias("click_ts"),
        "click_value",
        F.col("view_mark_asof.vts").alias("last_view_ts"),
        F.col("view_mark_asof.vval").alias("last_view_value"),
        F.when(
            F.col("view_mark_asof.vts").isNotNull(),
            ((F.unix_micros("timestamp") - F.unix_micros("view_mark_asof.vts")) / 1000).cast("long"),
        ).alias("ms_since_view"),
    )
