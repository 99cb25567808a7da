"""P8: timeout-analysis — timeout enrichment, global aggregate, clusters.

Reference: ossplugins/timeout-analysis/processor.go. The processor's
state is GLOBAL (one instance across all nodes): step-start times are
keyed by (height, round) only (:128-152), the aggregate's node_id is
simply the first timeout's node (:117-120), total_rounds counts every
entering_new_round from every node (:123-126), and clusters chain
timeouts across nodes in global timestamp order (:180-199).

Three result tables replace the reference's one mixed collection:
- timeout_analysis_events: per-timeout rows (TimeoutEvent, :10-23)
- timeout_analysis_summary: ONE row (TimeoutAnalysis, :25-46)
- timeout_analysis_clusters: session-window clusters (TimeoutCluster,
  :48-56) kept when count >= 3

Batch mappings:
- time_in_step: as-of lookup of the global (height, round, step) start
  (last-writer-wins map → asof_attach);
- is_recovery: >= 2 STRICTLY-PRIOR timeouts with the same height and
  round ∈ [r-2, r] (roundTimeouts is bumped after the check, :201-208)
  — prior rounds gathered over a height-partitioned window;
- clusters: lag-gap flag + cumulative sum (dual condition: gap <= 30 s
  AND 0 <= height-jump <= 5 — the jump is unsigned in Go, so a DECREASE
  wraps and always breaks the cluster) — `session_window` cannot
  express the height condition, so this stays lag/cumsum (SURVEY §2.6).
  The un-partitioned order-by window is deliberate: timeouts are a
  filtered trickle (exception events), so the single-partition sort is
  bounded even at 100 TB of raw logs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ._matching import asof_attach, latency_ms
from .registry import register_plugin

# handleStepStart (:128-152): only these seed the step-start map.
_STEP_EVENTS = {
    "entering_prevote_step": "prevote",
    "entering_precommit_step": "precommit",
    "propose_step": "propose",
    "entering_new_round": "new_round",
}


def _enriched_timeouts(events: DataFrame) -> DataFrame:
    m = F.create_map(*[x for k, v in _STEP_EVENTS.items() for x in (F.lit(k), F.lit(v))])
    marks = (
        events.filter(F.col("event_type").isin(*_STEP_EVENTS))
        .withColumn("step", m.getItem(F.col("event_type")))
        .select("height", "round", "step", F.col("timestamp").alias("step_start"), "timestamp")
    )
    timeouts = events.filter(F.col("event_type") == "scheduled_timeout").select(
        "height",
        "round",
        "step",
        F.col("step").alias("timeout_type"),
        F.col("dur").alias("duration"),
        F.coalesce("duration_ms", F.lit(0)).alias("duration_ms"),
        "timestamp",
        "node_id",
        "validator_address",
    )
    enriched = asof_attach(
        timeouts, marks, ["height", "round", "step"], "step_start"
    ).withColumnRenamed("step_start_asof", "step_start_time")
    enriched = enriched.withColumn(
        "time_in_step_ms",
        latency_ms(F.col("timestamp"), F.col("step_start_time")),
    )

    # Recovery flag: the check runs BEFORE the current timeout is counted
    # (:111 vs :176), so only strictly-prior timeouts count.
    prior = W.partitionBy("height").orderBy("timestamp").rowsBetween(W.unboundedPreceding, -1)
    prior_rounds = F.collect_list("round").over(prior)
    enriched = enriched.withColumn(
        "is_recovery_timeout",
        F.size(
            F.filter(
                prior_rounds,
                lambda r: (r >= F.col("round") - F.lit(2)) & (r <= F.col("round")),
            )
        )
        >= 2,
    )
    return enriched.select(
        "height",
        "round",
        "step",
        "timeout_type",
        "duration",
        "duration_ms",
        "timestamp",
        "node_id",
        "validator_address",
        "step_start_time",
        "time_in_step_ms",
        "is_recovery_timeout",
    )


def _clusters(timeouts: DataFrame) -> DataFrame:
    # Deliberately a GLOBAL-order window: the reference keeps ONE
    # currentCluster across all nodes in global time order
    # (updateTimeoutClusters :180-199 — state is processor-wide, not
    # per-node). Scale note: this single-partition window only ever sees
    # scheduled-timeout events (a tiny filtered slice of the corpus), so
    # the serial section is bounded; a per-node partitioning would be
    # parallel but computes a DIFFERENT (non-faithful) clustering.
    w = W.orderBy("timestamp")
    flagged = (
        timeouts.withColumn("_prev_ts", F.lag("timestamp").over(w))
        .withColumn("_prev_h", F.lag("height").over(w))
        .withColumn(
            "_new",
            F.when(F.col("_prev_ts").isNull(), F.lit(1))
            .when(
                (F.unix_micros("timestamp") - F.unix_micros("_prev_ts") <= 30_000_000)
                & (F.col("height") >= F.col("_prev_h"))
                & (F.col("height") - F.col("_prev_h") <= 5),
                F.lit(0),
            )
            .otherwise(F.lit(1)),
        )
        .withColumn("cluster_id", F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0)))
    )
    return (
        flagged.groupBy("cluster_id")
        .agg(
            F.min("height").alias("start_height"),
            F.max("height").alias("end_height"),
            F.count(F.lit(1)).cast("int").alias("timeout_count"),
            F.min("timestamp").alias("start_time"),
            F.max("timestamp").alias("end_time"),
            F.array_sort(F.collect_list(F.struct("timestamp", "step")))["step"].alias("steps"),
        )
        .withColumn(
            "duration_ms",
            latency_ms(F.col("end_time"), F.col("start_time")),
        )
        .filter(F.col("timeout_count") >= 3)
        .drop("cluster_id")
    )


@register_plugin("timeout-analysis")
def timeout_analysis(events: DataFrame) -> dict[str, DataFrame]:
    # Five consumers share `enriched` (events table, clusters, and the
    # summary's three crossJoined sub-aggregates); without materializing
    # it each re-runs the asof_attach shuffle + recovery window. Lazy
    # localCheckpoint rather than persist(): checkpoint blocks are
    # released by the ContextCleaner when the DataFrame goes out of
    # scope, while CacheManager entries from persist() accumulate for
    # the session lifetime across repeated pipeline runs. The slice is
    # timeouts-only (exception events), so it is tiny even when the raw
    # corpus is not.
    enriched = _enriched_timeouts(events).localCheckpoint(eager=False)

    # All tiny single-row side aggregates join via crossJoin (broadcast,
    # no shuffle): total new-round count, per-step map, per-round max.
    n_rounds = events.filter(F.col("event_type") == "entering_new_round").agg(
        F.count(F.lit(1)).cast("int").alias("total_rounds")
    )
    by_step = (
        enriched.groupBy("step")
        .agg(F.count(F.lit(1)).cast("int").alias("n"))
        .agg(
            F.map_from_entries(F.array_sort(F.collect_list(F.struct("step", "n")))).alias(
                "timeouts_by_step"
            )
        )
    )
    max_in_round = (
        enriched.groupBy("height", "round")
        .agg(F.count(F.lit(1)).cast("int").alias("n"))
        .agg(F.coalesce(F.max("n"), F.lit(0)).alias("max_timeouts_in_round"))
    )

    summary = (
        enriched.agg(
            F.min_by("node_id", "timestamp").alias("node_id"),
            F.min_by("validator_address", "timestamp").alias("validator_address"),
            F.count(F.lit(1)).cast("int").alias("total_timeouts"),
            (F.sum("duration_ms").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_timeout_duration_ms"),
            F.min("duration_ms").alias("min_timeout_duration_ms"),
            F.max("duration_ms").alias("max_timeout_duration_ms"),
            F.count_if(F.col("step") == "propose").cast("int").alias("propose_timeouts"),
            F.count_if(F.col("step") == "prevote").cast("int").alias("prevote_timeouts"),
            F.count_if(F.col("step") == "precommit").cast("int").alias("precommit_timeouts"),
            F.count_if(F.col("is_recovery_timeout")).cast("int").alias("recovery_timeouts"),
            F.count_distinct("height", "round").cast("int").alias("rounds_with_timeouts"),
            F.min("timestamp").alias("first_timeout"),
            F.max("timestamp").alias("last_timeout"),
            F.concat(F.min("height"), F.lit("-"), F.max("height")).alias("height_range"),
        )
        .crossJoin(n_rounds)
        .crossJoin(by_step)
        .crossJoin(max_in_round)
        .withColumn("timeouts_by_type", F.col("timeouts_by_step"))  # TimeoutType == Step (:103)
        .withColumn(
            "avg_timeouts_per_round",
            F.when(
                F.col("total_rounds") > 0,
                F.col("total_timeouts").cast("double") / F.col("total_rounds").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .filter(F.col("total_timeouts") > 0)  # createAnalysis returns nil on zero (:218)
    )

    return {
        "timeout_analysis_events": enriched,
        "timeout_analysis_summary": summary,
        "timeout_analysis_clusters": _clusters(enriched),
    }
