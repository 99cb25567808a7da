"""Event-stream analytics: the reference's plugin operators (SURVEY.md
§2.6, P1-P9) recast on the driver's `events` table so each is
oracle-checkable. `event_type` stands in for the message kind, `user_id`
for the node/peer key, `ts` for the event timestamp.

Determinism: latencies/durations are integer epoch-microsecond
arithmetic; quantile thresholds are positional (row_number vs ceil(p*n))
over integer cents, never float interpolation — see queries/_det.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load
from . import register
from ._det import dsum, sql_dsum
from ._topk import global_topk

# Shared CTE text for FIFO send/receive pairing (q21/q22 oracles).
_FIFO_CTES = """
WITH sends AS (
  SELECT user_id, ts AS send_ts, event_id AS send_event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS match_seq
  FROM events WHERE event_type = 'click'
), recvs AS (
  SELECT user_id, ts AS recv_ts, event_id AS recv_event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS match_seq
  FROM events WHERE event_type = 'view'
)
"""


def _fifo_sides(spark: SparkSession, sf_dir: str):
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")

    def side(kind: str, prefix: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == kind)
            .withColumn("match_seq", F.row_number().over(w))
            .select(
                "user_id",
                "match_seq",
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("event_id").alias(f"{prefix}_event_id"),
            )
        )

    return side("click", "send"), side("view", "recv")


@register(
    "q20_event_type_filter",
    tags=("filter",),
    oracle="""
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE event_type IN ('purchase', 'signup', 'error')
""",
)
def q20_event_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-set filter — consensus-steps plugin P4 (keep 11 of 30 event
    types, /root/reference/ossplugins/consensus-steps/processor.go:21-65)."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin("purchase", "signup", "error")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register(
    "q21_fifo_pairing",
    headline=True,
    tags=("join", "window", "fifo"),
    oracle=_FIFO_CTES
    + """
SELECT s.user_id, s.match_seq, s.send_event_id, r.recv_event_id,
       epoch_us(r.recv_ts) - epoch_us(s.send_ts) AS latency_us
FROM sends s JOIN recvs r USING (user_id, match_seq)
""",
)
def q21_fifo_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO multi-match of a send stream vs a receive stream.

    This is the network-latency plugin's pairing core (P7a,
    /root/reference/ossplugins/network-latency/processor.go:122-292):
    oldest pending send matches first. In batch that is row_number() per
    key on each side + equi-join on (key, seq) — order-of-arrival
    tolerance is free because the join is symmetric.
    """
    sends, recvs = _fifo_sides(spark, sf_dir)
    return sends.join(recvs, ["user_id", "match_seq"]).select(
        "user_id",
        "match_seq",
        "send_event_id",
        "recv_event_id",
        (F.unix_micros("recv_ts") - F.unix_micros("send_ts")).alias("latency_us"),
    )


@register(
    "q22_unmatched_sends",
    tags=("join", "anti", "fifo"),
    oracle=_FIFO_CTES
    + """
SELECT s.user_id, count(*) AS n_unmatched_sends, min(s.send_event_id) AS first_unmatched_event_id
FROM sends s
WHERE NOT EXISTS (
  SELECT 1 FROM recvs r
  WHERE r.user_id = s.user_id AND r.match_seq = s.match_seq
)
GROUP BY s.user_id
""",
)
def q22_unmatched_sends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unmatched-pending stats — P7's end-of-input unmatched sends
    (/root/reference/ossplugins/network-latency/processor.go:449-497) as a
    left-anti join on the FIFO key."""
    sends, recvs = _fifo_sides(spark, sf_dir)
    return (
        sends.join(recvs.select("user_id", "match_seq"), ["user_id", "match_seq"], "left_anti")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_unmatched_sends"),
            F.min("send_event_id").alias("first_unmatched_event_id"),
        )
    )


@register(
    "q23_sessionization",
    headline=True,
    tags=("window", "session"),
    oracle="""
WITH laged AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
         lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id
  FROM events
), flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                OR event_id - prev_event_id > 50
              THEN 1 ELSE 0 END AS is_new_session
  FROM laged
), sessioned AS (
  SELECT user_id, ts, event_id,
         CAST(sum(is_new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
FROM sessioned
GROUP BY user_id, session_id
HAVING count(*) >= 3
""",
)
def q23_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-gap sessionization with a min-size filter.

    Mirrors timeout-cluster detection (P8c, /root/reference/ossplugins/
    timeout-analysis/processor.go:180-199): a new cluster starts when the
    time gap exceeds a bound OR the sequence gap exceeds a bound, and only
    clusters with ≥3 members are kept. Built with lag + cumulative sum —
    built-in session_window can't express the dual condition.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order))
    seq_gap = F.col("event_id") - F.lag("event_id").over(order)
    flagged = ev.withColumn(
        "is_new_session",
        F.when(
            F.lag("ts").over(order).isNull() | (gap_us > 1_800_000_000) | (seq_gap > 50),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessioned = flagged.withColumn(
        "session_id",
        F.sum("is_new_session").over(order.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
        )
        .filter(F.col("n_events") >= 3)
    )


@register(
    "q24_step_durations",
    tags=("window", "lag"),
    oracle="""
WITH nexted AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
         epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) - epoch_us(ts) AS gap_us
  FROM events
)
SELECT event_type AS step_from, next_type AS step_to,
       count(*) AS n_transitions,
       min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
       CAST(sum(gap_us) AS DOUBLE) / count(*) AS avg_gap_us
FROM nexted
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
)
def q24_step_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-step durations — consensus-timing's pairwise step
    deltas (P5, /root/reference/ossplugins/consensus-timing/
    processor.go:108-130) via lead() then grouped stats."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    nexted = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(order).alias("next_type"),
        (F.unix_micros(F.lead("ts").over(order)) - F.unix_micros("ts")).alias("gap_us"),
    ).filter(F.col("next_type").isNotNull())
    return (
        nexted.groupBy(
            F.col("event_type").alias("step_from"), F.col("next_type").alias("step_to")
        )
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
            (F.sum("gap_us").cast("double") / F.count(F.lit(1))).alias("avg_gap_us"),
        )
    )


@register(
    "q80_rollup_overall",
    tags=("agg", "rollup"),
    oracle=f"""
SELECT user_id,
       COALESCE(event_type, 'overall') AS event_type,
       count(*) AS n_events,
       {sql_dsum('value')} AS sum_value,
       max(value) AS max_value
FROM events
GROUP BY GROUPING SETS ((user_id, event_type), (user_id))
""",
)
def q80_rollup_overall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with a synthetic 'overall' row per key — the network-latency
    per-pair × message-type rollup (P7c, /root/reference/ossplugins/
    network-latency/processor.go:559-643) as a native rollup."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.rollup("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
            F.max("value").alias("max_value"),
            F.grouping_id().alias("_gid"),
        )
        .filter(F.col("_gid") <= 1)  # keep (user,type) and (user); drop grand total
        .select(
            "user_id",
            F.coalesce("event_type", F.lit("overall")).alias("event_type"),
            "n_events",
            "sum_value",
            "max_value",
        )
    )


@register(
    "q26_latency_histogram",
    headline=True,
    tags=("window", "quantile", "histogram"),
    oracle="""
WITH ranked AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS vc,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(round(value * 100) AS BIGINT), event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
), thresh AS (
  SELECT *,
    max(CASE WHEN rn <= ceil(0.50 * n) THEN vc END) OVER (PARTITION BY event_type) AS p50_c,
    max(CASE WHEN rn <= ceil(0.95 * n) THEN vc END) OVER (PARTITION BY event_type) AS p95_c,
    max(CASE WHEN rn <= ceil(0.99 * n) THEN vc END) OVER (PARTITION BY event_type) AS p99_c
  FROM ranked
)
SELECT event_type,
       count(*) AS n_events,
       min(vc) AS min_cents, max(vc) AS max_cents,
       CAST(sum(vc) AS DOUBLE) / count(*) AS mean_cents,
       max(p50_c) AS p50_cents, max(p95_c) AS p95_cents, max(p99_c) AS p99_cents,
       count(*) FILTER (WHERE vc <= p50_c) AS n_le_p50,
       count(*) FILTER (WHERE vc > p50_c AND vc <= p95_c) AS n_p50_p95,
       count(*) FILTER (WHERE vc > p95_c AND vc <= p99_c) AS n_p95_p99,
       count(*) FILTER (WHERE vc > p99_c) AS n_gt_p99
FROM thresh
GROUP BY event_type
""",
)
def q26_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency histogram with quantile-dependent buckets.

    The network-latency plugin computes per-group p50/p95/p99 and then
    bucket counts against those thresholds (P7b, /root/reference/
    ossplugins/network-latency/processor.go:499-556). Thresholds are
    positional over integer cents (discrete quantiles) so bucket
    boundaries are exact.

    Scale shape (round-9 verdict's one `weak` plan, restated): the
    value domain is already discretized to integer cents, so the
    corpus reduces to a (event_type, vc) -> count aggregate FIRST — a
    partial-aggregatable groupBy on a fine composite key. Every window
    after that runs over the tiny per-type distribution table (one row
    per distinct cent value), not the corpus: the old formulation's
    row_number/count windows partitioned by the ~5-value event_type
    key alone, which moves ~20% of the corpus through ONE sort task
    per type at 100x — the textbook low-cardinality-key shuffle.
    Discrete quantiles come from cumulative counts: the group whose
    rank interval [cum-cnt+1, cum] contains k = ceil(p*n) holds the
    k-th smallest value, which replicates the old row-level
    max(vc WHERE rn <= k) EXACTLY, including nulls-first ranking (a
    null-vc group occupies the leading ranks and no non-null group
    qualifies while k is inside it) — so the attested oracle is
    unchanged. Bucket counts are conditional sums of the SAME
    aggregate's cnt column.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    vc = F.round(F.col("value") * 100).cast("bigint")
    dist = ev.withColumn("vc", vc).groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    part = W.partitionBy("event_type")
    cum = (
        dist.withColumn(
            "cum",
            F.sum("cnt").over(part.orderBy("vc").rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .withColumn("n", F.sum("cnt").over(part))
    )

    def disc_quantile(p: float, name: str):
        # k-th smallest (k = ceil(p*n)) = the vc of the group whose rank
        # interval starts at or before k; max picks the group containing
        # k because the following group starts at cum+1 > k
        k = F.ceil(F.lit(p) * F.col("n"))
        return F.max(F.when(F.col("cum") - F.col("cnt") + F.lit(1) <= k, F.col("vc"))).over(part).alias(name)

    thresh = cum.select(
        "event_type",
        "vc",
        "cnt",
        disc_quantile(0.50, "p50_c"),
        disc_quantile(0.95, "p95_c"),
        disc_quantile(0.99, "p99_c"),
    )
    zero = F.lit(0).cast("bigint")

    def bucket(cond, name: str):
        # sum-of-counts restatement of the old per-row count_if: null vc
        # and null thresholds fall to the otherwise(0) branch exactly as
        # a null condition contributed nothing to count_if
        return F.sum(F.when(cond, F.col("cnt")).otherwise(zero)).alias(name)

    return thresh.groupBy("event_type").agg(
        F.sum("cnt").alias("n_events"),
        F.min("vc").alias("min_cents"),
        F.max("vc").alias("max_cents"),
        (F.sum(F.col("vc") * F.col("cnt")).cast("double") / F.sum("cnt")).alias("mean_cents"),
        F.max("p50_c").alias("p50_cents"),
        F.max("p95_c").alias("p95_cents"),
        F.max("p99_c").alias("p99_cents"),
        bucket(F.col("vc") <= F.col("p50_c"), "n_le_p50"),
        bucket((F.col("vc") > F.col("p50_c")) & (F.col("vc") <= F.col("p95_c")), "n_p50_p95"),
        bucket((F.col("vc") > F.col("p95_c")) & (F.col("vc") <= F.col("p99_c")), "n_p95_p99"),
        bucket(F.col("vc") > F.col("p99_c"), "n_gt_p99"),
    )


@register(
    "q49_union_sort",
    tags=("union", "sort"),
    oracle="""
SELECT event_id, ts, user_id, event_type, value
FROM events WHERE event_type = 'purchase'
UNION ALL
SELECT event_id, ts, user_id, event_type, CAST(NULL AS DOUBLE) AS value
FROM events WHERE event_type = 'error'
ORDER BY ts, event_id
""",
)
def q49_union_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-by-name of two differently-shaped streams + global time sort —
    the tracer-events plugin (P9, /root/reference/ossplugins/tracer-events/
    plugin.go:39-73)."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "ts", "user_id", "event_type")
    return purchases.unionByName(errors, allowMissingColumns=True).orderBy("ts", "event_id")


@register(
    "q50_first_per_group",
    tags=("window", "min_by"),
    oracle="""
SELECT user_id, event_id AS first_event_id, ts AS first_ts, event_type AS first_event_type,
       n_events
FROM (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
WHERE rn = 1
""",
)
def q50_first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-row-per-key — per-file identity capture (M1, /root/reference/
    internal/app/app.go:77-86 takes the first P2pNodeID line per file)."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    part = W.partitionBy("user_id")
    return (
        ev.withColumn("rn", F.row_number().over(part.orderBy("ts", "event_id")))
        .withColumn("n_events", F.count(F.lit(1)).over(part))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
            F.col("event_type").alias("first_event_type"),
            "n_events",
        )
    )


@register(
    "q29_trailing_window",
    tags=("window", "trailing"),
    oracle="""
WITH win AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_errors_last4
  FROM events
)
SELECT user_id, event_id, ts, n_errors_last4,
       n_errors_last4 >= 2 AS is_recovery
FROM win
WHERE event_type = 'error'
""",
)
def q29_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window conditional count — the recovery-timeout flag
    (≥2 timeouts within the trailing window, P8a, /root/reference/
    ossplugins/timeout-analysis/processor.go:201-208)."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    trail = (
        W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, W.currentRow)
    )
    return (
        ev.withColumn(
            "n_errors_last4",
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).over(trail),
        )
        .filter(F.col("event_type") == "error")
        .select(
            "user_id",
            "event_id",
            "ts",
            "n_errors_last4",
            (F.col("n_errors_last4") >= 2).alias("is_recovery"),
        )
    )


@register(
    "q51_last_wins_dedup",
    tags=("window", "dedup"),
    oracle="""
SELECT user_id, event_type,
       event_id AS last_event_id, value AS last_value, n_entries
FROM (
  SELECT user_id, event_type, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type) AS n_entries
  FROM events
)
WHERE rn = 1
""",
)
def q51_last_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins per key — p2p-messages keeps one live entry per
    composite key where duplicates re-confirm (P3, /root/reference/
    ossplugins/p2p-messages/processor.go:39-368)."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "event_id", "ts", "value")
    part = W.partitionBy("user_id", "event_type")
    return (
        ev.withColumn("rn", F.row_number().over(part.orderBy(F.col("ts").desc(), F.col("event_id").desc())))
        .withColumn("n_entries", F.count(F.lit(1)).over(part))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
            "n_entries",
        )
    )


@register(
    "q31_interval_join",
    tags=("window", "session", "rangejoin"),
    oracle="""
WITH laged AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
         lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id
  FROM events
), flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                OR event_id - prev_event_id > 50
              THEN 1 ELSE 0 END AS is_new_session
  FROM laged
), sessioned AS (
  SELECT user_id, ts, event_id,
         CAST(sum(is_new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
), sessions AS (
  SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end
  FROM sessioned
  GROUP BY user_id, session_id
  HAVING count(*) >= 3
),
errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
)
SELECT e.event_id, e.user_id, e.ts,
       count(*) AS n_concurrent_sessions,
       CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_concurrent_users
FROM errors e
JOIN sessions s
  ON e.ts >= s.session_start AND e.ts <= s.session_end
 AND s.user_id <> e.user_id
GROUP BY e.event_id, e.user_id, e.ts
""",
)
def q31_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join, bucketized: each error event → the count of
    OTHER users' sessions whose [start, end] contains its timestamp.

    The reference has no range join (SURVEY §2.7); Spark's naive plan
    for an inequality-only join is BroadcastNestedLoopJoin — a
    scan-per-row cartesian that dies at scale. The classic rewrite used
    here: quantize time into fixed 1-hour buckets, EXPLODE each session
    over the buckets it spans, map each event to its single bucket,
    EQUI-join on the bucket key, then apply the exact range predicate.
    One hash shuffle on (bucket); fan-out per session = its duration in
    buckets (bounded), and the plan contains a real hash join —
    tools/audit_plans.py asserts no nested-loop/cartesian appears.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order))
    seq_gap = F.col("event_id") - F.lag("event_id").over(order)
    flagged = ev.withColumn(
        "is_new_session",
        F.when(
            F.lag("ts").over(order).isNull() | (gap_us > 1_800_000_000) | (seq_gap > 50),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessioned = flagged.withColumn(
        "session_id",
        F.sum("is_new_session").over(order.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    sessions = (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .filter(F.col("n_events") >= 3)
        .drop("n_events")
    )

    BUCKET_US = 3_600_000_000  # 1 hour
    s_bucketed = sessions.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.unix_micros("session_start") / BUCKET_US).cast("bigint"),
                (F.unix_micros("session_end") / BUCKET_US).cast("bigint"),
            )
        ),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        F.col("user_id").alias("e_user"),
        "ts",
        (F.unix_micros("ts") / BUCKET_US).cast("bigint").alias("bucket"),
    )
    joined = errors.join(s_bucketed, "bucket").filter(
        (F.col("ts") >= F.col("session_start"))
        & (F.col("ts") <= F.col("session_end"))
        & (F.col("user_id") != F.col("e_user"))
    )
    # a session spans one bucket per hour, and an event sits in exactly
    # one bucket, so no (event, session) pair can match twice — counts
    # need no dedup
    return joined.groupBy("event_id", F.col("e_user").alias("user_id"), "ts").agg(
        F.count(F.lit(1)).alias("n_concurrent_sessions"),
        F.count_distinct("user_id").alias("n_concurrent_users"),
    )


@register(
    "q32_event_paths",
    tags=("window", "paths"),
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
  FROM events
),
paths AS (
  SELECT event_type || ' > ' || t2 || ' > ' || t3 AS path, count(*) AS n_occurrences
  FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
  GROUP BY 1
)
SELECT path, n_occurrences, rank FROM (
  SELECT path, n_occurrences,
         row_number() OVER (ORDER BY n_occurrences DESC, path) AS rank
  FROM paths
) WHERE rank <= 20
""",
)
def q32_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-step event paths (user-journey mining): consecutive
    event-type triples per user, counted corpus-wide, top 20.

    Two lead() calls over one (user_id, ts) window build the triples —
    a single shuffle serves both offsets; the global top-20 ranks a
    tiny aggregate (distinct path strings), so the unpartitioned window
    runs over dozens of rows regardless of corpus size, with a
    deterministic path-string tiebreak.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(order).alias("t2"),
        F.lead("event_type", 2).over(order).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    paths = seq.groupBy(
        F.concat_ws(" > ", "event_type", "t2", "t3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n_occurrences"))
    # Gate-pinned TakeOrderedAndProject top-20 + bounded rank window
    # (see _topk.global_topk's docstring).
    return global_topk(paths, 20, [F.col("n_occurrences").desc(), "path"], "rank")


# --------------------------------------------------------------------------
# q40 — weekly retention cohorts

@register(
    "q40_retention_cohorts",
    tags=("events", "retention", "cohort"),
    oracle="""
WITH firsts AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
),
cells AS (
  SELECT strftime(CAST(f.cohort_week AS DATE), '%Y-%m-%d') AS cohort_week,
         CAST((epoch(a.active_week) - epoch(f.cohort_week)) / 604800 AS BIGINT)
           AS week_offset,
         count(*) AS n_users
  FROM activity a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_users,
       round(CAST(n_users AS DOUBLE)
             / sum(CASE WHEN week_offset = 0 THEN n_users ELSE 0 END)
                 OVER (PARTITION BY cohort_week), 9) AS retention_pct
FROM cells
""",
)
def q40_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts over the events stream: users bucketed
    by first-seen week, each later week's surviving fraction reported
    against the cohort size — the standard growth-analytics matrix.

    Scale shape: one user-keyed aggregation (first week), one
    user-week distinct (both partial-aggregatable, user-keyed
    shuffles), a user-keyed join, then everything else operates on the
    cohort×offset matrix — weeks², not events. The retention window
    partitions by cohort over those tiny aggregated rows.
    """
    ev = load(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = ev.select("user_id", wk.alias("active_week")).distinct()
    cells = (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                (F.unix_timestamp("active_week") - F.unix_timestamp("cohort_week"))
                / 604800
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    wc = W.partitionBy("cohort_week")
    base = F.sum(F.when(F.col("week_offset") == 0, F.col("n_users")).otherwise(0)).over(wc)
    return cells.select(
        "cohort_week",
        "week_offset",
        "n_users",
        F.round(F.col("n_users").cast("double") / base, 9).alias("retention_pct"),
    )


# --------------------------------------------------------------------------
# q41 — ordered funnel conversion: view → click → purchase

@register(
    "q41_funnel_conversion",
    tags=("events", "funnel"),
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM p) AS n_purchase,
       round(CAST((SELECT count(*) FROM c) AS DOUBLE)
             / nullif((SELECT count(*) FROM v), 0), 9) AS view_to_click,
       round(CAST((SELECT count(*) FROM p) AS DOUBLE)
             / nullif((SELECT count(*) FROM c), 0), 9) AS click_to_purchase
""",
)
def q41_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked strictly after
    their first view, then purchased strictly after that first ordered
    click — step conversion rates, the product-analytics staple whose
    ORDERING constraint a naive per-step distinct-count gets wrong.

    Scale shape: one user-keyed aggregation per step, each stage
    joining the previous stage's (user, first_ts) table on user_id —
    all shuffles share the user_id key, so a co-partitioned cluster
    layout (or AQE) reuses the exchange across stages; the funnel
    output is a single row.
    """
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            # nullif-guard: on a corpus with a zero step count Spark
            # (non-ANSI) yields NULL for x/0 while DuckDB (IEEE float)
            # yields inf/NaN — both engines must emit NULL instead
            F.round(
                F.col("n_click").cast("double") / F.nullif(F.col("n_view"), F.lit(0)), 9
            ).alias("view_to_click"),
            F.round(
                F.col("n_purchase").cast("double") / F.nullif(F.col("n_click"), F.lit(0)),
                9,
            ).alias("click_to_purchase"),
        )
    )


# --------------------------------------------------------------------------
# q101 — event-rate anomaly detection: hourly z-scores per type

@register(
    "q58_rate_anomalies",
    tags=("events", "anomaly", "monitoring"),
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
stats AS (
  SELECT event_type,
         count(*) AS nh,
         CAST(sum(n) AS DOUBLE) / count(*) AS mu,
         round(sqrt((CAST(sum(n * n) AS DOUBLE)
                     - CAST(sum(n) AS DOUBLE) * sum(n) / count(*)) / count(*)), 9)
           AS sigma
  FROM hourly GROUP BY event_type
)
SELECT h.event_type,
       strftime(h.h, '%Y-%m-%dT%H:00') AS hour,
       CAST(h.n AS BIGINT) AS n_events,
       round((h.n - s.mu) / s.sigma, 9) AS z
FROM hourly h JOIN stats s USING (event_type)
WHERE s.sigma > 0 AND abs(round((h.n - s.mu) / s.sigma, 9)) >= 2
""",
)
def q58_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: hours whose per-type event count
    sits ≥2 population standard deviations from that type's mean — the
    alerting pass a monitoring pipeline runs over its own rollups
    (q19 watches composition drift; this watches volume).

    Scale shape: the corpus-sized pass is one (type, hour) count with
    map-side partial agg; stats reduce the hourly matrix per type
    (types × hours rows), and the z-score join is type-keyed against a
    broadcastable stats table. Determinism: all sums are exact integer
    aggregates, each division/sqrt result is rounded before the
    threshold comparison, so both engines flag identical hours.
    """
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return anomalies_from_hourly(hourly)


def anomalies_from_hourly(hourly: DataFrame) -> DataFrame:
    """The stats + z-score pass of q101 over a (event_type, h, n) hourly
    rollup — shared verbatim by the batch query and the streaming
    restatement (streaming/analytics.py builds the rollup as a
    watermarked windowed aggregation and applies this per micro-batch),
    so batch/stream parity is by construction."""
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nh"),
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.round(
            F.sqrt(
                (
                    F.sum(F.col("n") * F.col("n")).cast("double")
                    - F.sum("n").cast("double") * F.sum("n") / F.count(F.lit(1))
                )
                / F.count(F.lit(1))
            ),
            9,
        ).alias("sigma"),
    )
    z = F.round((F.col("n") - F.col("mu")) / F.col("sigma"), 9)
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter((F.col("sigma") > 0) & (F.abs(z) >= 2))
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd'T'HH:00").alias("hour"),
            F.col("n").cast("bigint").alias("n_events"),
            z.alias("z"),
        )
    )
