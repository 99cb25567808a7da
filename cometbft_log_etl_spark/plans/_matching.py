"""Shared send/receive matching primitives for the latency plugins.

The reference's map-based stream matchers (one live entry per key,
receive-before-send tolerant) become, in batch, window-ranked equi-joins:
`row_number()` per key on each side + join on (key, seq) is exactly
FIFO pairing, and arrival order stops mattering because the join is
symmetric (SURVEY.md §2.6 P1/P2/P7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def fifo_rank(df: DataFrame, key_cols: list[str], ts_col: str = "timestamp") -> DataFrame:
    w = W.partitionBy(*key_cols).orderBy(ts_col)
    return df.withColumn("match_seq", F.row_number().over(w))


def confirm_pairs(
    sends: DataFrame,
    recvs: DataFrame,
    key_cols: list[str],
    extra_send_cols: list | None = None,
    extra_recv_cols: list | None = None,
) -> DataFrame:
    """Inner-join FIFO-ranked sends × receives on (key, seq).

    Returns one row per confirmed pair with sent_time / received_time /
    latency_ms, mirroring the reference's `confirmed` status records
    (vote-latency/processor.go:35-44).
    """
    s = fifo_rank(sends, key_cols).select(
        *key_cols,
        "match_seq",
        F.col("timestamp").alias("sent_time"),
        *(extra_send_cols or []),
    )
    r = fifo_rank(recvs, key_cols).select(
        *key_cols,
        "match_seq",
        F.col("timestamp").alias("received_time"),
        *(extra_recv_cols or []),
    )
    return (
        s.join(r, [*key_cols, "match_seq"])
        .withColumn("latency_ms", latency_ms(F.col("received_time"), F.col("sent_time")))
        .withColumn("status", F.lit("confirmed"))
    )


def latency_ms(end: Column, start: Column) -> Column:
    """Whole milliseconds from ``start`` to ``end`` (signed, truncated
    toward zero) — every plugin's latency and duration column."""
    return ((F.unix_micros(end) - F.unix_micros(start)) / F.lit(1000)).cast("long")


def asof_attach(
    targets: DataFrame,
    marks: DataFrame,
    key_cols: list[str],
    value_col: str,
    ts_col: str = "timestamp",
    mark_tiebreak_col: str | None = None,
) -> DataFrame:
    """As-of enrichment: each target row gets the `value_col` of the
    *latest* mark row with the same key and mark.ts <= target.ts.

    This is the batch restatement of the reference's mutable
    "step-start-time" maps (validator-participation/processor.go:58-85,
    timeout-analysis/processor.go:128-152): processing events in global
    timestamp order with last-writer-wins map entries is exactly an
    as-of lookup. Implemented as union + running `last(ignorenulls)`
    window — one shuffle on the key, no join, scales to any number of
    marks per key. Marks sort before targets on timestamp ties (the
    reference would have processed the mark first).

    When several marks share the same (key, ts) the running-last pick is
    otherwise arbitrary; pass ``mark_tiebreak_col`` (a unique mark
    column, e.g. an event id) to deterministically keep the highest one
    per (key, ts) before the window — callers' oracles must apply the
    same rule.
    """
    if mark_tiebreak_col is not None:
        wt = W.partitionBy(*key_cols, ts_col).orderBy(F.col(mark_tiebreak_col).desc())
        marks = (
            marks.withColumn("_tie_rn", F.row_number().over(wt))
            .filter(F.col("_tie_rn") == 1)
            .drop("_tie_rn")
        )
    m = marks.select(
        *key_cols, F.col(ts_col).alias("_ts"), F.lit(0).alias("_is_target"), F.col(value_col).alias("_mark")
    )
    t = targets.withColumn("_ts", F.col(ts_col)).withColumn("_is_target", F.lit(1)).withColumn(
        "_mark", F.lit(None).cast(m.schema["_mark"].dataType)
    )
    w = (
        W.partitionBy(*key_cols)
        .orderBy("_ts", "_is_target")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = t.unionByName(m, allowMissingColumns=True).withColumn(
        value_col + "_asof", F.last("_mark", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("_is_target") == 1).drop("_ts", "_is_target", "_mark")
