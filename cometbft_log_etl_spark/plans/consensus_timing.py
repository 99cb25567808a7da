"""P5: consensus-timing — per-(node, height, round) step sessionization.

Reference: ossplugins/consensus-timing/processor.go:33-160. Each
(node_id, height, round) accumulates a map of step→transition-time;
durations are computed between each step and its nearest *observed*
predecessor in the canonical order (calculateStepDuration :108-130);
the round ends at committed_block (joined on (node, height),
:86-106) or is flushed at end-of-input (completeRound :132-148).

Batch restatement: groupBy (node, height, round) with per-step
conditional min/max aggregation, then pure array/map expressions over
the observed steps — the whole plugin is ONE shuffle. Map columns are
built with map_from_entries, matching the reference's dynamic-key
step_transitions / step_durations_ms documents.

Semantics notes (documented deviations, all duplicate-event edges):
- the reference keeps the LAST transition time per step (map overwrite
  in ts order) — we aggregate max(ts) per step, identical;
- a re-entered round (second new_round for one key) re-opens the
  session in the reference; here one session per key with start =
  min(new_round ts);
- committed_block attaches to the round of the same (node, height)
  with the latest prior activity (the reference picks the single live
  entry; Go map iteration order decides under multiples).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._matching import asof_attach, latency_ms
from .registry import register_plugin

# Canonical step order (calculateStepDuration :109).
STEP_ORDER = (
    "new_round",
    "propose",
    "entering_prevote",
    "entering_prevote_wait",
    "entering_precommit",
    "entering_precommit_wait",
    "entering_commit",
    "committed_block",
)

# event_type → canonical step name (Process :34-52).
EVENT_STEP = {
    "entering_new_round": "new_round",
    "propose_step": "propose",
    "entering_prevote_step": "entering_prevote",
    "entering_prevote_wait_step": "entering_prevote_wait",
    "entering_precommit_step": "entering_precommit",
    "entering_precommit_wait_step": "entering_precommit_wait",
    "entering_commit_step": "entering_commit",
}


def _step_events(events: DataFrame) -> DataFrame:
    m = F.create_map(*[x for k, v in EVENT_STEP.items() for x in (F.lit(k), F.lit(v))])
    steps = (
        events.filter(F.col("event_type").isin(*EVENT_STEP))
        .withColumn("step_name", m.getItem(F.col("event_type")))
        .select("node_id", "validator_address", "height", "round", "step_name", "timestamp")
    )
    # committed_block has no round: as-of attach it to the latest round
    # this (node, height) had entered (handleCommittedBlock :88-106).
    commits = events.filter(F.col("event_type") == "committed_block").select(
        "node_id", "validator_address", "height", "timestamp"
    )
    round_marks = steps.select("node_id", "height", F.col("round").alias("mark_round"), "timestamp")
    commits = (
        asof_attach(commits, round_marks, ["node_id", "height"], "mark_round")
        .withColumn("round", F.col("mark_round_asof"))
        .filter(F.col("round").isNotNull())
        .withColumn("step_name", F.lit("committed_block"))
        .select("node_id", "validator_address", "height", "round", "step_name", "timestamp")
    )
    return steps.unionByName(commits)


@register_plugin("consensus-timing")
def consensus_timing(events: DataFrame) -> dict[str, DataFrame]:
    stepped = _step_events(events)

    per_step = [
        F.max(F.when(F.col("step_name") == s, F.col("timestamp"))).alias(f"_t_{i}")
        for i, s in enumerate(STEP_ORDER)
    ]
    grouped = stepped.groupBy("node_id", "height", "round").agg(
        F.min("validator_address").alias("validator_address"),
        F.min("timestamp").alias("start_time"),
        F.max("timestamp").alias("_max_ts"),
        *per_step,
    )

    # Observed (step, ts) entries in canonical order, as an array of structs.
    entries = F.filter(
        F.array(
            *[
                F.struct(F.lit(s).alias("step"), F.col(f"_t_{i}").alias("ts"))
                for i, s in enumerate(STEP_ORDER)
            ]
        ),
        lambda e: e["ts"].isNotNull(),
    )
    g = grouped.withColumn("_entries", entries)

    # Pairwise durations between consecutive observed steps:
    # zip entries[1:] with entries[:-1] (the reference's
    # nearest-observed-predecessor scan collapses to exactly this once
    # events are in timestamp order).
    pairs = F.zip_with(
        F.slice(F.col("_entries"), 2, F.greatest(F.size("_entries") - 1, F.lit(0))),
        F.slice(F.col("_entries"), 1, F.greatest(F.size("_entries") - 1, F.lit(0))),
        lambda cur, prev: F.struct(
            F.concat(prev["step"], F.lit("_to_"), cur["step"]).alias("key"),
            latency_ms(cur["ts"], prev["ts"]).alias("value"),
        ),
    )

    end_time = F.coalesce(F.col(f"_t_{len(STEP_ORDER) - 1}"), F.col("_max_ts"))
    out = (
        g.withColumn("step_transitions", F.map_from_entries(
            F.transform(F.col("_entries"), lambda e: F.struct(e["step"], e["ts"]))
        ))
        .withColumn("step_durations_ms", F.map_from_entries(pairs))
        .withColumn("end_time", end_time)
        .withColumn(
            "total_round_time_ms",
            latency_ms(end_time, F.col("start_time")),
        )
        .select(
            "node_id",
            "validator_address",
            "height",
            "round",
            "start_time",
            "end_time",
            "step_transitions",
            "step_durations_ms",
            "total_round_time_ms",
        )
    )
    return {"consensus_timing": out}
