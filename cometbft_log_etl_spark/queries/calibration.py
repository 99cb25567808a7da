"""q115 — classifier calibration: threshold selection for the learned
quality gate (the round-11 verdict's "what's missing #3").

q104 fits the hashed-n-gram linear model and gates on training
accuracy; a production quality gate needs the precision/recall
trade-off measured on documents the fit never saw, so an operator can
pick the threshold matching their tolerance (recall-heavy for a
pretraining sweep, precision-heavy for a curated fine-tune set). This
query fits the SAME model (the classifier.py builders, byte-shared)
on the history slice (doc_id % 10 < 8, the q13 ingestion convention),
scores the held-out slice map-side from the broadcast weight literal,
and sweeps an 11-point decision-threshold grid — every (threshold →
tp/fp/fn/precision/recall/F1) row derived from ONE confusion
aggregate over the held-out scores (the q54 confusion shape): 23
conditional sums in a single pass, exploded to the grid rows
afterwards. Nothing here is corpus-sized after that aggregate, so the
sweep costs one scan at any scale.

Cross-engine float notes: scores are 9-decimal exact doubles (the
q104-proven chain); grid literals k/10 parse to identical IEEE
doubles in both engines, so every score >= threshold comparison
agrees; precision/recall/F1 are single divisions/products of exact
integers in the same association order on both sides — bit-identical
without rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register
from .classifier import (
    _map_lit,
    _QC_BIAS,
    _QC_LEN,
    _QC_UNIQ,
    _SQL_BUCKET,
    _W_DEC,
    _qc_doc_feats,
    _qc_fit_ctes,
    _qc_pred_col,
    fit_quality_classifier,
)

# The q13 split convention (shared story with q47/q108/q114): history
# is the training corpus, the 20% batch slice is the held-out set.
_CAL_HIST_MOD = 10
_CAL_HIST_CUT = 8

_CAL_GRID = [k / 10 for k in range(11)]  # 0.0, 0.1, ..., 1.0

_CAL_ORACLE = f"""
WITH {_qc_fit_ctes(f"WHERE doc_id % {_CAL_HIST_MOD} < {_CAL_HIST_CUT}")},
heldbase AS MATERIALIZED (
  SELECT doc_id, sum(nr) AS n, min(yr) AS y, min(ur) AS ur
  FROM rows_ WHERE doc_id % {_CAL_HIST_MOD} >= {_CAL_HIST_CUT} GROUP BY doc_id
),
heldocc AS MATERIALIZED (
  SELECT doc_id, {_SQL_BUCKET} AS d
  FROM (SELECT doc_id, unnest(t) AS tok FROM rows_
        WHERE doc_id % {_CAL_HIST_MOD} >= {_CAL_HIST_CUT})
),
heldfeatc AS MATERIALIZED (
  SELECT o.doc_id, o.d,
         CAST(round(CAST(count(*) AS DOUBLE) / b.n, 9) AS DECIMAL(10,9)) AS xn
  FROM heldocc o JOIN heldbase b ON b.doc_id = o.doc_id GROUP BY o.doc_id, o.d, b.n
),
heldfeat AS MATERIALIZED (
  SELECT * FROM heldfeatc
  UNION ALL SELECT doc_id, CAST({_QC_BIAS} AS BIGINT),
                   CAST(1.0 AS DECIMAL(10,9)) FROM heldbase
  UNION ALL SELECT doc_id, CAST({_QC_LEN} AS BIGINT),
                   CAST(CAST(least(n, 100) AS DOUBLE) / 100.0 AS DECIMAL(10,9))
            FROM heldbase
  UNION ALL SELECT doc_id, CAST({_QC_UNIQ} AS BIGINT),
                   CAST(ur AS DECIMAL(10,9)) FROM heldbase
),
heldscores AS MATERIALIZED (
  -- LEFT JOIN + coalesce: an empty train slice leaves w3 empty and the
  -- Spark side's weight-map lookups all fall to 0, so a held doc with
  -- no matched weight rows must score round(0, 9), not vanish
  SELECT b.doc_id, b.y,
         CAST(round(coalesce(p.pred, 0), 9) AS DOUBLE) AS score
  FROM heldbase b
  LEFT JOIN (SELECT f.doc_id, sum(w3.w * f.xn) AS pred
             FROM heldfeat f JOIN w3 ON w3.d = f.d GROUP BY f.doc_id) p
    ON p.doc_id = b.doc_id
),
grid AS (SELECT unnest([{", ".join(repr(t) for t in _CAL_GRID)}]) AS thr),
conf AS (
  -- LEFT JOIN ON TRUE keeps every grid row alive on an empty held-out
  -- slice (the Spark global aggregate always returns its one row)
  SELECT g.thr,
         sum(CASE WHEN s.score >= g.thr AND s.y = 1.0 THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN s.score >= g.thr AND s.y = 0.0 THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN s.score <  g.thr AND s.y = 1.0 THEN 1 ELSE 0 END) AS fn
  FROM grid g LEFT JOIN heldscores s ON TRUE
  GROUP BY g.thr
)
SELECT CAST(thr AS DOUBLE) AS threshold,
       CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
       CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END AS rec,
       CASE WHEN tp + fp > 0 AND tp + fn > 0
                 AND CAST(tp AS DOUBLE) / (tp + fp)
                     + CAST(tp AS DOUBLE) / (tp + fn) > 0
            THEN 2 * (CAST(tp AS DOUBLE) / (tp + fp))
                   * (CAST(tp AS DOUBLE) / (tp + fn))
                 / (CAST(tp AS DOUBLE) / (tp + fp)
                    + CAST(tp AS DOUBLE) / (tp + fn))
            END AS f1
FROM conf
"""


@register(
    "q115_classifier_calibration",
    tags=("datapipe", "text", "quality", "ml", "calibration"),
    oracle=_CAL_ORACLE,
)
def q115_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out threshold sweep for the q104 quality model: fit on the
    history slice, score the held-out batch slice, and report the full
    confusion row (tp/fp/fn, precision, recall, F1) at each grid
    threshold — all eleven rows computed from ONE aggregation pass
    over the held-out scores. The DuckDB oracle replays the identical
    train-slice fit through the shared CTE chain and sweeps the same
    grid via a grid-join, cross-checking both the fit and the sweep.
    """
    from ..session import default_parallelism, persist_tracked

    docs = load(spark, sf_dir, "documents").repartition(default_parallelism())
    hist = (F.col("doc_id") % _CAL_HIST_MOD) < _CAL_HIST_CUT
    # ONE screened-feature build for both slices (round-14 verdict #4,
    # the #5 cache-barrier pattern): features are per-document, so
    # slicing the corpus feature frame is bit-identical to building
    # per-slice frames — the old shape derived _qc_doc_feats twice
    # (train inside the fit, held for scoring), i.e. two corpus scans
    # and two doc-keyed feature exchanges where one suffices. The fit's
    # six jobs read the train slice and the scoring pass the held
    # slice off the same cache.
    feats = persist_tracked(_qc_doc_feats(docs))
    _, w = fit_quality_classifier(docs, doc_feats=feats.filter(hist))
    wmap = _map_lit(list(w.items()), _W_DEC)
    scored = feats.filter(~hist).select(
        "y", F.round(_qc_pred_col(wmap), 9).cast("double").alias("score")
    )
    # ONE confusion aggregate: per grid threshold, flagged-positive and
    # flagged-negative counts plus the miss count, as conditional sums
    # in a single global aggregation (coalesce: empty held-out slice
    # must report zeros, matching the oracle's null-extended grid join)
    aggs = []
    for k, t in enumerate(_CAL_GRID):
        flag = F.col("score") >= F.lit(t)
        pos = F.col("y") == 1.0
        aggs.append(
            F.coalesce(F.sum(F.when(flag & pos, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(f"tp{k}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(flag & ~pos, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(f"fp{k}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(~flag & pos, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(f"fn{k}")
        )
    one = scored.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(t).alias("threshold"),
                F.col(f"tp{k}").alias("tp"),
                F.col(f"fp{k}").alias("fp"),
                F.col(f"fn{k}").alias("fn"),
            )
            for k, t in enumerate(_CAL_GRID)
        ]
    )
    ex = one.select(F.explode(rows).alias("r")).select(
        "r.threshold", "r.tp", "r.fp", "r.fn"
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    prec = F.when(tp + fp > 0, tp.cast("double") / (tp + fp))
    rec = F.when(tp + fn > 0, tp.cast("double") / (tp + fn))
    # the same association order as the oracle: ((2*p)*r)/(p+r)
    f1 = F.when(
        (tp + fp > 0) & (tp + fn > 0)
        & (tp.cast("double") / (tp + fp) + tp.cast("double") / (tp + fn) > 0),
        F.lit(2.0)
        * (tp.cast("double") / (tp + fp))
        * (tp.cast("double") / (tp + fn))
        / (tp.cast("double") / (tp + fp) + tp.cast("double") / (tp + fn)),
    )
    return ex.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        prec.alias("prec"),
        rec.alias("rec"),
        f1.alias("f1"),
    )
