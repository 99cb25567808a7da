"""P6: validator-participation — per-(height, round, validator) voting stats.

Reference: ossplugins/validator-participation/processor.go:40-180.

Faithfully-reproduced quirks:
- Step-start times are GLOBAL per (height, round) — NOT per node
  (stepStartTimes keyed by "h:r", :60-85): every node's
  entering-prevote/precommit event overwrites the shared slot, so the
  step start a vote sees is the latest entering event (from ANY node)
  processed before it. In batch that is an as-of lookup (asof_attach).
- Vote latency = send ts − that global step start; only votes with a
  known step start contribute latencies (:96-110).
- on_time_* = last written value, i.e. the latency of the LAST vote of
  that phase (≤ 1000 ms, :100,108) — max_by(flag, ts), not bool_or.
- avg_* = Go int64 division (sum/len truncates, :129-141).
- Grain: the key is the VOTE's validator address (:88); rows are also
  seeded by each node's entering-step events for its own validator
  (:72-79,121-125). Both families union into one groupBy here.

One shuffle for the as-of (by height/round/phase), one for the final
groupBy — the enrichment join of SURVEY §2.6 P6 without a join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._matching import asof_attach, latency_ms
from .registry import register_plugin

_PHASE_STEP_EVENT = {
    "prevote": "entering_prevote_step",
    "precommit": "entering_precommit_step",
}


@register_plugin("validator-participation")
def validator_participation(events: DataFrame) -> dict[str, DataFrame]:
    votes = events.filter(
        (F.col("event_type") == "send_vote") & F.col("vote_type").isin("prevote", "precommit")
    ).select(
        F.col("msg_height").alias("height"),
        F.col("msg_round").alias("round"),
        F.col("vote_type").alias("phase"),
        F.col("validator_address_fp").alias("validator_address"),
        "node_id",
        "timestamp",
    )

    step_marks = (
        events.filter(F.col("event_type").isin(*_PHASE_STEP_EVENT.values()))
        .select(
            "height",
            "round",
            F.when(F.col("event_type") == "entering_prevote_step", "prevote")
            .otherwise("precommit")
            .alias("phase"),
            F.col("timestamp").alias("step_start"),
            F.col("timestamp"),
        )
    )

    enriched = asof_attach(
        votes, step_marks.select("height", "round", "phase", "step_start", "timestamp"),
        ["height", "round", "phase"], "step_start",
    ).withColumn(
        "latency_ms",
        latency_ms(F.col("timestamp"), F.col("step_start_asof")),
    )

    def phase_agg(phase: str, prefix: str):
        is_p = F.col("phase") == phase
        has_lat = is_p & F.col("latency_ms").isNotNull()
        lat = F.when(has_lat, F.col("latency_ms"))
        n_lat = F.count(lat)
        return [
            F.count_if(is_p).cast("int").alias(f"{prefix}_count"),
            F.when(n_lat > 0, (F.sum(lat).cast("double") / n_lat).cast("long"))
            .otherwise(F.lit(0))
            .alias(f"avg_{prefix}_time_ms"),
            (F.count_if(is_p) > 0).alias(f"participated_{prefix}"),
            F.coalesce(
                F.max_by(lat <= 1000, F.when(has_lat, F.col("timestamp"))), F.lit(False)
            ).alias(f"on_time_{prefix}"),
            F.sort_array(F.collect_list(lat)).alias(f"{prefix}_latency_ms"),
        ]

    from_votes = enriched.groupBy("height", "round", "validator_address").agg(
        F.min_by("node_id", "timestamp").alias("node_id"),
        *phase_agg("prevote", "prevote"),
        *phase_agg("precommit", "precommit"),
    )

    # Rows seeded by entering-step events for the node's own validator
    # (initValidatorStats :121-125) that never received a matching vote.
    seeded = (
        events.filter(F.col("event_type").isin(*_PHASE_STEP_EVENT.values()))
        .select("height", "round", F.col("validator_address"), "node_id")
        .distinct()
        .join(
            from_votes.select("height", "round", "validator_address"),
            ["height", "round", "validator_address"],
            "left_anti",
        )
        .select(
            "height",
            "round",
            "validator_address",
            "node_id",
            F.lit(0).alias("prevote_count"),
            F.lit(0).cast("long").alias("avg_prevote_time_ms"),
            F.lit(False).alias("participated_prevote"),
            F.lit(False).alias("on_time_prevote"),
            F.array().cast("array<long>").alias("prevote_latency_ms"),
            F.lit(0).alias("precommit_count"),
            F.lit(0).cast("long").alias("avg_precommit_time_ms"),
            F.lit(False).alias("participated_precommit"),
            F.lit(False).alias("on_time_precommit"),
            F.array().cast("array<long>").alias("precommit_latency_ms"),
        )
    )
    out = from_votes.unionByName(seeded).select(
        "validator_address",
        "node_id",
        "height",
        "round",
        "prevote_count",
        "precommit_count",
        "prevote_latency_ms",
        "precommit_latency_ms",
        "avg_prevote_time_ms",
        "avg_precommit_time_ms",
        "participated_prevote",
        "participated_precommit",
        "on_time_prevote",
        "on_time_precommit",
    )
    return {"validator_participation": out}
