"""Unit contract for the shared in-bucket pair expansion
(queries/_pairs.in_array_pairs) on literal arrays — no corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from cometbft_log_etl_spark.queries._pairs import in_array_pairs


def _pairs(spark, gate=None) -> dict:
    df = spark.createDataFrame(
        [(1, [30, 10, 40, 20]), (2, [7]), (3, [])], "k int, xs array<int>"
    )
    arr = in_array_pairs(
        "xs", lambda a, b: F.struct(a.alias("a"), b.alias("b")), gate=gate
    )
    return {r.k: [(p.a, p.b) for p in r.ps] for r in df.select("k", arr.alias("ps")).collect()}


def test_pairs_are_i_lt_j_in_array_order(spark):
    got = _pairs(spark)
    # positional i < j, not value order: the array is deliberately unsorted
    assert got[1] == [(30, 10), (30, 40), (30, 20), (10, 40), (10, 20), (40, 20)]


def test_singleton_and_empty_arrays_yield_nothing(spark):
    got = _pairs(spark)
    assert got[2] == []
    assert got[3] == []


def test_gate_drops_pairs(spark):
    got = _pairs(spark, gate=lambda a, b: a < b)
    assert got[1] == [(30, 40), (10, 40), (10, 20)]
    assert got[2] == [] and got[3] == []
