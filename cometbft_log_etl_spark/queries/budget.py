"""Per-source token-budget selection — the corpus-assembly step that
caps how much each source contributes to a training mix (public
knowledge: the Gopher / RefinedWeb / RedPajama data recipes all cap
per-domain volume; q14's mixture weighting decides HOW MUCH each
source should contribute, this operator decides WHICH documents make
the cut).

Semantics: within each source, documents are ranked by a deterministic
quality key (n_chars DESC, doc_id ASC — longer documents first, the
stand-in for a real quality score) and selected greedily while the
running token total stays within the source's budget (a third of its
token mass, so the cut always bites). Tokens are non-negative, so the
running total is monotone and "greedy prefix" == "cumulative sum <=
budget" — which is exactly the one-window oracle.

Scale shape at 100 TB (the q26 two-phase restatement, applied to a
cumulative-sum selection instead of a quantile): the naive plan is a
running-sum window partitioned by `source` over EVERY document row — a
low-cardinality-key corpus shuffle into one sort task per source, the
round-9 verdict's textbook scale-killer. Instead:

1. the corpus reduces FIRST to a (source, n_chars) -> (doc count,
   token sum) distribution — a partial-aggregatable groupBy on the
   fine composite key;
2. the running sum runs over that distribution table (one row per
   distinct length per source, bounded by the length domain, not the
   corpus);
3. groups whose cumulative total fits the budget are kept WHOLESALE —
   their documents never move through a window;
4. only the single BOUNDARY group per source (where the budget bites)
   joins back to its documents for a per-doc running sum — a window
   over one length-group per source, broadcast-joined by the tiny
   boundary table.

The decomposition is exact: the induced document order (n_chars DESC,
doc_id ASC within the group) equals the oracle's window order, totals
are integers, and a boundary group entered exactly at the budget
(remaining == 0) still admits its leading zero-token documents — the
`<=` on the boundary filter mirrors the oracle's `cum <= budget` on
ties (probed; an exclusive bound drops them on one side only).

Determinism: every quantity is an integer (token counts, budgets,
cumulative sums); orderings pin null placement explicitly on both
sides (Spark's ASC default is nulls-first, DuckDB's is nulls-last —
divergent unless spelled). Duplicate-id posture: NOT in the contract
family — duplicate rows are identical (same source, length, tokens),
so any tie order among them yields the same kept multiset, and every
output is a count/sum over that multiset.

Deliberately NO streaming twin: the selection is a function of the
source's FULL token distribution (the budget is a third of total mass
and the cut point depends on every document's rank), so an online
variant would re-decide past admissions on every micro-batch — a
corpus-level assembly decision, not a per-document score. The
streamable halves already have twins: per-doc quality scoring
(streaming/classify.py) and banding (streaming/perplexity.py) decide
document-level fates online; budget packing runs where the batch
assembly runs.

No reference analog (the reference has no corpus-assembly surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..tables import load
from . import register


@register(
    "q70_source_token_budget",
    tags=("datapipe", "sampling", "mixing", "selection"),
    oracle="""
WITH d AS MATERIALIZED (
  SELECT doc_id, source, n_chars,
         coalesce(len(string_split(text, ' ')), 0) AS tc
  FROM documents
),
w AS MATERIALIZED (
  SELECT source, n_chars, tc,
         sum(tc) OVER (PARTITION BY source
                       ORDER BY n_chars DESC NULLS LAST, doc_id ASC NULLS FIRST
                       ROWS UNBOUNDED PRECEDING) AS cum,
         sum(tc) OVER (PARTITION BY source) AS tot
  FROM d
)
SELECT source,
       count(*) AS n_total,
       CAST(max(tot) AS BIGINT) AS tok_total,
       CAST(max(tot) // 3 AS BIGINT) AS budget,
       CAST(count(*) FILTER (WHERE cum <= tot // 3) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(tc) FILTER (WHERE cum <= tot // 3), 0) AS BIGINT)
         AS toks_kept
FROM w
GROUP BY source
""",
)
def q70_source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source document selection under a token budget
    (quality-ranked prefix), computed without ever windowing the
    corpus: distribution-table running sums + a boundary-group-only
    per-doc pass."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.coalesce(F.size(F.split("text", " ")), F.lit(0)).cast("bigint").alias("tc"),
    )

    g = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("tc").alias("gtok")
    )
    part = W.partitionBy("source")
    # persist_tracked: the cumulative distribution feeds BOTH the
    # per-source roll-up and the boundary-group locator; without the
    # cache each consumer re-scans the corpus to rebuild it (the q25 /
    # dsir precedent). Distribution-sized: one row per distinct length
    # per source — safe to cache at any scale
    from ..session import persist_tracked

    cum = persist_tracked(
        g.withColumn(
            "cum",
            F.sum("gtok").over(
                part.orderBy(F.col("n_chars").desc_nulls_last()).rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            ),
        )
        .withColumn("tot", F.sum("gtok").over(part))
        .withColumn("budget", F.expr("tot div 3"))
    )

    # per-source roll-up of the wholesale-kept groups; max_by is safe
    # because (cum > budget AND cum - gtok <= budget) holds for at most
    # one group per source (cum is monotone over the group order)
    zero = F.lit(0).cast("bigint")
    per_source = cum.groupBy("source").agg(
        F.sum("cnt").alias("n_total"),
        F.max("tot").alias("tok_total"),
        F.max("budget").alias("budget"),
        F.sum(F.when(F.col("cum") <= F.col("budget"), F.col("cnt")).otherwise(zero)).alias(
            "n_kept_full"
        ),
        F.sum(
            F.when(F.col("cum") <= F.col("budget"), F.col("gtok")).otherwise(zero)
        ).alias("toks_full"),
    )

    # the one group per source where the budget bites: its documents
    # (and ONLY its) get a per-doc running sum against the remaining
    # budget; `<=` admits a boundary entered exactly at the budget so
    # its leading zero-token docs survive, as the oracle's cum<=budget
    # does
    bnd = cum.filter(
        (F.col("cum") > F.col("budget")) & (F.col("cum") - F.col("gtok") <= F.col("budget"))
    ).select(
        F.col("source").alias("bsrc"),
        F.col("n_chars").alias("bchars"),
        (F.col("budget") - (F.col("cum") - F.col("gtok"))).alias("remaining"),
    )
    bdocs = docs.join(
        F.broadcast(bnd),
        docs.source.eqNullSafe(F.col("bsrc"))
        & docs.n_chars.eqNullSafe(F.col("bchars")),
    )
    bwin = W.partitionBy("bsrc", "bchars").orderBy(F.col("doc_id").asc_nulls_first())
    bkept = (
        bdocs.withColumn(
            "dcum",
            F.sum("tc").over(bwin.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .filter(F.col("dcum") <= F.col("remaining"))
        .groupBy(F.col("bsrc").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_kept_bnd"),
            F.sum("tc").alias("toks_bnd"),
        )
    )

    # null-safe: a NULL-source group is a real group in both engines'
    # GROUP BY, and a plain-equality join here silently dropped its
    # boundary-kept counts (round-11 review — the only null-unsafe
    # join in the function)
    bkept_r = bkept.select(F.col("source").alias("k_src"), "n_kept_bnd", "toks_bnd")
    return per_source.join(
        F.broadcast(bkept_r), per_source.source.eqNullSafe(F.col("k_src")), "left"
    ).select(
        "source",
        "n_total",
        F.col("tok_total").cast("bigint").alias("tok_total"),
        F.col("budget").cast("bigint").alias("budget"),
        (F.col("n_kept_full") + F.coalesce(F.col("n_kept_bnd"), zero))
        .cast("bigint")
        .alias("n_kept"),
        (F.col("toks_full") + F.coalesce(F.col("toks_bnd"), zero))
        .cast("bigint")
        .alias("toks_kept"),
    )
