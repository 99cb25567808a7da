"""Relational core: scans, filters, joins, aggregations.

These exercise the standard-operator checklist from SURVEY.md §2.7 on the
driver's TPC-H-ish tables: projection/filter pushdown (reference S3-S5,
P4), composite-key inner joins (P1-P3), broadcast enrichment joins
(M2/P6/P8a), semi/anti joins (P7 unmatched-stats), grouped aggregation
with conditional counts (P5-P8).

Scale notes (100 TB posture): dimension tables (region/nation/supplier)
are broadcast explicitly; fact-fact joins shuffle on their join keys and
rely on AQE for skew; every scan projects only needed columns so parquet
column pruning and predicate pushdown apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register
from ._det import dec, dmean, dsum, sql_dmean, sql_dsum


@register(
    "q01_pricing_summary",
    headline=True,
    tags=("agg", "scan"),
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum('l_quantity')} AS sum_qty,
  {sql_dsum('l_extendedprice')} AS sum_base_price,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  {sql_dmean('l_quantity')} AS avg_qty,
  {sql_dmean('l_extendedprice')} AS avg_price,
  {sql_dmean('l_discount')} AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide grouped aggregation over the biggest fact table.

    Mirrors the reference's per-group aggregate pattern (e.g. timeout
    analysis createAnalysis, /root/reference/ossplugins/timeout-analysis/
    processor.go:217-239) as one declarative groupBy.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            dmean("l_quantity", "avg_qty"),
            dmean("l_extendedprice", "avg_price"),
            dmean("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q02_broadcast_enrich",
    tags=("join", "broadcast"),
    oracle=f"""
SELECT
  s.s_name,
  n.n_name,
  count(*) AS n_items,
  {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY s.s_name, n.n_name
""",
)
def q02_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast enrichment join: fact × small dims.

    Reference analog: stamping every event with per-file (node_id,
    validator_address) metadata (M2, /root/reference/internal/app/
    app.go:103-108) — a dimension lookup that must never shuffle the fact
    side. `F.broadcast` pins the strategy.
    """
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum(revenue, "revenue"))
    )


@register(
    "q03_shipping_priority",
    headline=True,
    tags=("join", "topk"),
    oracle=f"""
SELECT
  l.l_orderkey,
  {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
  o.o_orderdate,
  o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1996-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective 3-way join + agg + deterministic top-k."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q05_nation_revenue",
    headline=True,
    tags=("join", "agg"),
    oracle=f"""
SELECT
  n.n_name,
  r.r_name,
  {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
  count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n.n_name, r.r_name
""",
)
def q05_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join (two facts + broadcast dim chain)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .select("o_orderkey")
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(dsum(revenue, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "q87_selective_filter",
    tags=("filter", "pushdown"),
    oracle=f"""
SELECT
  {sql_dsum('l_extendedprice * l_discount')} AS revenue,
  count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q87_selective_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: conjunctive predicates → parquet pushdown, scalar agg.

    Reference analog: the early `_msg` tag filters (S3/S4,
    /root/reference/internal/parser/dispatcher.go:69-97).
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q88_semi_join",
    tags=("join", "semi"),
    oracle="""
SELECT c.c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
GROUP BY c.c_mktsegment
""",
)
def q88_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with ≥1 finished order."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q89_anti_join",
    tags=("join", "anti"),
    oracle="""
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q89_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders.

    Reference analog: unmatched send/receive stats in network-latency
    (P7d/e, /root/reference/ossplugins/network-latency/processor.go:449-497)
    — pendings that never matched are exactly an anti-join in batch.
    """
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")


@register(
    "q77_distinct_agg",
    tags=("agg", "distinct"),
    oracle="""
SELECT
  o.o_orderpriority,
  count(DISTINCT o.o_custkey) AS n_customers,
  count(DISTINCT o.o_orderkey) AS n_orders,
  count(*) AS n_rows
FROM orders o
GROUP BY o.o_orderpriority
""",
)
def q77_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped distinct counts (exact), reference analog: distinct connected
    peers per node (P7d, collect_set cardinality)."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q90_conditional_agg",
    tags=("agg", "conditional"),
    oracle=f"""
SELECT
  year(o.o_orderdate) AS order_year,
  count(*) FILTER (WHERE o.o_orderstatus = 'F') AS n_finished,
  count(*) FILTER (WHERE o.o_orderstatus = 'O') AS n_open,
  count(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')) AS n_high_priority,
  {sql_dsum("CASE WHEN o.o_orderstatus = 'F' THEN o.o_totalprice ELSE 0 END")} AS finished_value,
  count(*) AS n_total
FROM orders o
GROUP BY year(o.o_orderdate)
""",
)
def q90_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counts per group — the reference's by-step / by-type
    count maps (P8b, /root/reference/ossplugins/timeout-analysis/
    processor.go:217-239) as count_if columns."""
    orders = load(spark, sf_dir, "orders")
    finished_value = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(F.lit(0.0))
    return orders.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
        F.count_if(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).alias("n_high_priority"),
        dsum(finished_value, "finished_value"),
        F.count(F.lit(1)).alias("n_total"),
    )
