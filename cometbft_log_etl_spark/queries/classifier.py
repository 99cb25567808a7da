"""Learned quality classifier — a fastText-style hashed-n-gram linear
model TRAINED in the engine and scored map-side from a broadcast weight
table (round-9 verdict "what's missing" #2).

Public-knowledge design (Joulin et al. 2016 "Bag of Tricks for
Efficient Text Classification"; CCNet/DSIR-style quality filtering):
hash every token into a FIXED feature space (``_QC_D`` buckets — the
hashing trick caps the model size no matter the vocabulary), add two
cheap engineered features (length fraction, distinct-token ratio — the
standard curation feature mix), and fit a linear scorer by full-batch
STEEPEST descent on squared loss: plain fixed-lr GD needs hundreds of
iterations on this conditioning (measured: 3 steps moved accuracy 0
over the 59% base rate), while the exact line search
``alpha = (g'g)/(g'X'Xg/m)`` reaches 73% in the same 3 steps — and
both the gradient and alpha are single aggregation passes, so each
step is CTE-expressible. Labels distill the q53 heuristic bands
(y = 1 for 'ok') — the curation bootstrap: a learned model replaces a
rule so the rule's judgment can be re-targeted at better labels
without changing the plan.

Determinism (the q16/q17 unrolled-iteration precedent, plus one rule
this query surfaced): a double ``round(x, 9)`` where x is itself a
9-decimal short times a short constant lands EXACTLY on the round-half
boundary, and there Spark (shortest-repr HALF_UP) and DuckDB
(exact-binary rounding) systematically disagree by 1e-9 — found by
tracing one diverging bucket through the unrolled CTEs. So quantities
that are PRODUCTS OF SHORTS stay in exact decimal (weights: scale 18 =
9-decimal alpha x 9-decimal gradient; score terms: scale 27 = weight x
feature), and ``round(·, 9)`` is applied only to arbitrary full-
precision doubles (gradient/alpha quotients, final scores), where a
half-boundary has measure zero — the accepted q15/q17 exposure. Means
of 9-decimal shorts over small groups hit the same boundary through
division, so the output mean is the UNrounded dmean (exact decimal sum,
one IEEE division). The DuckDB oracle unrolls the identical three
steps as CTEs; an independent NumPy fit in tests/test_classifier.py
checks the math a third way.

Scale shape at 100 TB:
- the per-doc feature frame builds with exactly ONE doc-keyed shuffle:
  bucket-count pairs collapse IN-ARRAY per row (no token explode — at
  most 64 compact pairs per row reach the exchange; measured 5.9s ->
  4.3s warm at sf0.1 and the 10x stress ratio fell 3.1x -> 1.8x), one
  groupBy(doc_id) merges duplicate-id copies value-identically to the
  oracle's GROUP BY CTEs, and the frame is persist_tracked; after that
  NO iteration touches a doc-keyed shuffle at all;
- each steepest-descent round is exactly two engine jobs over that
  cached frame: the gradient (explode + 67-group map-side-partial agg)
  and the line-search denominator (per-doc dots computed IN-ARRAY,
  one ungrouped aggregation);
- the 67-row model state round-trips through the driver between rounds
  (the tokenizer.py BPE-merge-table precedent — model-sized by the
  hashing trick, never corpus-sized) and re-enters each plan as a
  literal weight map, so scoring is a single map-side fold per row —
  cheaper than a broadcast join (no build side, no exchange; a
  first-draft broadcast-join formulation measured 29s warm at sf0.01
  against 3.3s for this one, dominated by ~25 job/broadcast rounds of
  fixed latency);
- nothing corpus-sized is collected, broadcast, or joined pairwise.

Duplicate-id posture: every per-document quantity is keyed GROUP BY
doc_id symmetrically in both engines (counts merge; y, source and the
engineered ratios take min), so q104 does NOT join the id-uniqueness
contract family — pinned by tests/test_duplicate_id_contract.py.

No reference analog (the reference has no ML surface); this extends
the LLM-data-pipeline tier alongside q15 (NB lang-ID) and q53
(heuristic bands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import persist_tracked
from ..tables import load
from . import register
from ._det import DEC12

_QC_D = 64  # hashed feature buckets (the model is _QC_D + 3 weights)
_QC_BIAS = -1  # bias pseudo-bucket (xn = 1.0 for every document)
_QC_LEN = -2  # engineered feature: least(n_tokens, 100) / 100
_QC_UNIQ = -3  # engineered feature: distinct-token ratio
_QC_STEPS = 3  # fixed unrolled steepest-descent steps
_QC_FLAG = 0.5  # decision threshold on the linear score

# Exact-arithmetic types (see module docstring): features are
# 9-decimal shorts in DECIMAL(10,9); per-step errors quantize to
# DECIMAL(19,9) (|err| is bounded by |pred| + 1); gradients are
# 9-decimal shorts carried at DECIMAL(12,9) — |g_d| <= max|x| <= 1 by
# Cauchy-Schwarz (loss is monotone under exact line search, so
# ||err||^2/2m stays <= its t=0 value of 1/2; the 3 extra integer
# digits absorb quantization slack). Alpha is a curvature inverse with
# no such bound (46 observed at sf0.001), so it gets DECIMAL(14,9) and
# a deterministic 1e4 cap (a capped line search is still a descent
# step). alpha x g is exact at scale 18, so weights live at
# DECIMAL(26,18); weight x feature is exact at scale 27 (precision 37
# in Spark, 36 in DuckDB — both under 38) and sums without rounding in
# both engines.
_G_DEC = "decimal(10,9)"
_E_DEC = "decimal(19,9)"
_G12_DEC = "decimal(12,9)"
_A_DEC = "decimal(14,9)"
_W_DEC = "decimal(26,18)"
_A_CAP = 10000.0

# q53's band rule, restated as a 0/1 training label (distillation).
_SQL_YROW = """CASE WHEN len(t) < 30 THEN 0.0
              WHEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) < 0.35 THEN 0.0
              ELSE 1.0 END"""

_SQL_BUCKET = f"CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {_QC_D}"


def _qc_rows(docs: DataFrame) -> DataFrame:
    """Per input ROW: token array, row token count, row label, row
    distinct-token ratio (9-decimal short)."""
    t = F.filter(F.split("text", " "), lambda x: x != "")
    rows = docs.select("doc_id", "source", t.alias("t")).filter(F.size("t") >= 1)
    uniq_ratio = F.size(F.array_distinct("t")).cast("double") / F.size("t")
    return (
        rows.withColumn(
            "yr",
            F.when(F.size("t") < 30, F.lit(0.0))
            .when(uniq_ratio < 0.35, F.lit(0.0))
            .otherwise(F.lit(1.0)),
        )
        .withColumn("nr", F.size("t").cast("bigint"))
        .withColumn("ur", F.round(uniq_ratio, 9))
    )


def _bucket(tok) -> F.Column:
    """The shared _SQL_BUCKET hash recipe, Spark-side."""
    return (
        F.conv(F.substring(F.md5(tok.cast("binary")), 1, 8), 16, 10).cast("bigint")
        % _QC_D
    )


def _row_bucket_pairs() -> F.Column:
    """Per-row array<struct<d, c>>: hashed-bucket counts built entirely
    IN-ARRAY, so a row contributes at most 64 compact pairs to the
    doc_id shuffle instead of one row per TOKEN (the q09/q33 map-side-
    collapse idiom; measured 2.4s -> 1.5s for the count tier alone at
    sf0.1, and it removes the token-level Generate entirely).

    Counted in ONE aggregate pass over the bucket array (map update per
    element, map bounded at _QC_D entries). The first draft counted via
    `filter(buckets, b == d)` per distinct bucket — but a non-lambda-
    variable expression inside a higher-order-function body re-evaluates
    PER ELEMENT (the round-11 q09 lesson), so the md5 bucket array was
    being recomputed up to 64x per row — O(distinct x tokens) hashing.
    aggregate()'s input collection is a child expression, evaluated
    once."""
    buckets = F.transform("t", lambda tok: _bucket(tok))
    empty = F.map_from_arrays(
        F.array().cast("array<bigint>"), F.array().cast("array<bigint>")
    )
    cnts = F.aggregate(
        buckets,
        empty,
        lambda m, b: F.map_concat(
            F.map_filter(m, lambda k, v: k != b),
            F.create_map(
                b, F.coalesce(F.element_at(m, b), F.lit(0).cast("bigint")) + 1
            ),
        ),
    )
    return F.transform(
        F.map_entries(cnts),
        lambda e: F.struct(e["key"].alias("d"), e["value"].alias("c")),
    )


def _farr_extras(n, ur) -> F.Column:
    """The bias/length/uniq pseudo-feature structs — ONE definition for
    the batch and streaming feature builders."""
    return F.array(
        F.struct(
            F.lit(_QC_BIAS).cast("bigint").alias("d"),
            F.lit(1.0).cast(_G_DEC).alias("xn"),
        ),
        F.struct(
            F.lit(_QC_LEN).cast("bigint").alias("d"),
            (F.least(n, F.lit(100)).cast("double") / 100.0).cast(_G_DEC).alias("xn"),
        ),
        F.struct(
            F.lit(_QC_UNIQ).cast("bigint").alias("d"),
            ur.cast(_G_DEC).alias("xn"),
        ),
    )


def _farr_from(praw, n, ur) -> F.Column:
    """The per-doc feature array from POSSIBLY-UNMERGED (d, c) pairs
    (the batch path flattens per-copy pair arrays across duplicate-id
    rows): re-merge by bucket, then xn = round(c/n, 9) exactly as the
    oracle's featc CTE computes it, plus the pseudo-features.

    `praw` MUST be a bound column (the batch groupBy output), not an
    inline expression: it is referenced inside the lambdas below, and a
    non-lambda-variable EXPRESSION there re-evaluates per element (the
    round-11 q09 lesson). Streams use _stream_farr, which needs no
    merge and references its pair array exactly once."""
    ds = F.array_distinct(F.transform(praw, lambda p: p["d"]))
    cnt = lambda d: F.aggregate(  # noqa: E731
        F.filter(praw, lambda p: p["d"] == d),
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + p["c"],
    )
    featc = F.transform(
        ds,
        lambda d: F.struct(
            d.alias("d"),
            F.round(cnt(d).cast("double") / n, 9).cast(_G_DEC).alias("xn"),
        ),
    )
    return F.concat(featc, _farr_extras(n, ur))


def _stream_farr(n, ur) -> F.Column:
    """Per-row feature array for a STREAM: _row_bucket_pairs() already
    emits unique buckets (map_entries), so no merge is needed and the
    pair array is the transform's input — evaluated once per row
    (round-11 review). The lambda does reference ``n`` (a size(t)
    alias CollapseProject may inline), a DOCUMENTED exception to the
    only-bound-columns rule: re-evaluating size() per element is O(1)
    on Spark's array representation, and the lambda iterates at most
    _QC_D pair entries — keep anything costlier than O(1) out of this
    body. xn is the same round(c/n, 9) expression as the batch featc,
    so scores stay bit-identical."""
    featc = F.transform(
        _row_bucket_pairs(),
        lambda p: F.struct(
            p["d"].alias("d"),
            F.round(p["c"].cast("double") / n, 9).cast(_G_DEC).alias("xn"),
        ),
    )
    return F.concat(featc, _farr_extras(n, ur))


def _qc_doc_feats(docs: DataFrame) -> DataFrame:
    """One row per document: (doc_id, src, y, farr) where farr is the
    per-doc feature ARRAY (struct<d, xn>). Built with exactly ONE
    doc-keyed shuffle — per-row bucket-count pairs collapse in-array
    map-side, one groupBy(doc_id) merges copies and carries the compact
    pair arrays, and the normalized feature array assembles in-array on
    the merged counts (no join, no token explode; duplicate-id rows
    merge value-identically to the oracle's GROUP BY doc_id CTEs).
    After this, every fit iteration is a pure map-side pass over the
    cached frame. Pair/array order is nondeterministic, which is safe:
    every consumer folds farr through exact (order-free) decimal sums
    or an unordered aggregation."""
    rows = _qc_rows(docs)
    merged = (
        rows.select("doc_id", "source", "nr", "yr", "ur", _row_bucket_pairs().alias("pr"))
        .groupBy("doc_id")
        .agg(
            F.min("source").alias("src"),
            F.sum("nr").alias("n"),
            F.min("yr").alias("y"),
            F.min("ur").alias("ur"),
            F.flatten(F.collect_list("pr")).alias("praw"),
        )
    )
    return merged.select(
        "doc_id",
        "src",
        "y",
        _farr_from(F.col("praw"), F.col("n"), F.col("ur")).alias("farr"),
    )


def _map_lit(items, val_type: str) -> F.Column:
    """Literal map column from driver-held (d, value) pairs — the
    broadcast weight/gradient table inlined into the plan (67 entries,
    model-sized by the hashing trick)."""
    if not items:
        return F.create_map(F.lit(-(10 ** 6)).cast("bigint"), F.lit(0).cast(val_type))
    args = []
    for d, v in sorted(items):
        args.append(F.lit(int(d)).cast("bigint"))
        args.append(F.lit(v).cast(val_type))
    return F.create_map(*args)


def _qc_pred_col(wmap: F.Column) -> F.Column:
    """Map-side score: exact decimal fold of w[d] * xn over farr (scale
    27 products, scale-pinned accumulator — order-free). Stays DECIMAL:
    every consumer quantizes with a DECIMAL round (bit-identical across
    engines, proven incl. half boundaries) — never a double round."""
    # acc at (37,27): each addition is exact at (38,27) and the recast
    # back to (37,27) never rounds (values stay far under 10 digits) —
    # the dfold12 idiom; a (38,27) acc would push additions past
    # precision 38 and silently drop a scale digit
    acc0 = F.lit(0).cast("decimal(37,27)")
    return F.aggregate(
        "farr",
        acc0,
        lambda acc, s: (
            acc
            + F.coalesce(F.element_at(wmap, s["d"]), F.lit(0).cast(_W_DEC))
            * s["xn"]
        ).cast("decimal(37,27)"),
    )


def _qc_xg_col(gmap: F.Column) -> F.Column:
    """Map-side gradient dot: exact decimal fold of g[d] * xn (scale 18
    products), kept DECIMAL for the same reason as _qc_pred_col."""
    acc0 = F.lit(0).cast("decimal(37,18)")
    return F.aggregate(
        "farr",
        acc0,
        lambda acc, s: (
            acc
            + F.coalesce(F.element_at(gmap, s["d"]), F.lit(0).cast(_G12_DEC))
            * s["xn"]
        ).cast("decimal(37,18)"),
    )


def _qc_grad_sums(doc_feats: DataFrame, err9_col: F.Column):
    """Engine pass 1 of a step: the per-bucket gradient SUM
    sum_i(err9_i * xn_id) — err9 is a 9-decimal exact decimal, so every
    term is an exact scale-18 decimal product and the sum carries NO
    rounding at all. Collected as the 67-row model state (the
    tokenizer.py bounded-iteration precedent — the collect IS the
    model); values arrive as exact Python Decimals.

    Also returns each bucket's ROW count: the bias pseudo-bucket
    carries xn = 1.0 for EVERY document, so its count is exactly the
    document count m — the fit reads m off this aggregate instead of
    running a separate count() job (round-11 verdict nit: the fit was
    2 jobs + 1 count per model; the count is free here because the
    group-count rides the same partial aggregation)."""
    rows = (
        doc_feats.select(err9_col.alias("e9"), F.explode("farr").alias("f"))
        .groupBy(F.col("f.d").alias("d"))
        .agg(
            F.sum(F.col("e9") * F.col("f.xn")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    return [(r.d, r.s, r.n) for r in rows]


def _qc_den_sum(doc_feats: DataFrame, gmap: F.Column):
    """Engine pass 2 of a step: sum_i round(Xg_i, 9)^2 — per-doc dots
    exact decimal map-side, quantized with a DECIMAL round (cross-
    engine exact), squared exactly, one ungrouped exact sum. Returns
    the exact Decimal sum (None on an empty corpus)."""
    xg9 = F.round(_qc_xg_col(gmap), 9).cast(_G12_DEC)
    row = doc_feats.select(F.sum(xg9 * xg9).alias("s")).collect()[0]
    return row.s


def _duck_round9(x: float):
    """Mirror of DuckDB's round(double, 9), probe-verified:
    multiply by 1e9 in IEEE double, round half away from zero, divide —
    NOT a quantization of the exact binary value (x*1e9 re-rounds in
    binary first), and not Spark's shortest-repr rounding either (which
    is why no Spark-side double round exists anywhere in this fit: the
    two quotients are computed on the DRIVER with these semantics, and
    every other quantization goes through DECIMAL rounds, which the
    engines agree on exactly, half boundaries included). Returns the
    exact 9-decimal value the oracle's double→DECIMAL cast lands on."""
    import math
    from decimal import Decimal

    y = float(x) * 1e9
    k = int(math.copysign(math.floor(abs(y) + 0.5), y))
    return Decimal(k) * Decimal("1e-9")


def fit_quality_classifier(
    docs: DataFrame, steps: int = _QC_STEPS, doc_feats: DataFrame | None = None
):
    """The fit: driver-held {bucket: exact-decimal weight} after
    ``steps`` steepest-descent rounds. Each round is exactly TWO engine
    jobs over the cached per-doc feature frame (gradient sums,
    line-search denominator); the 67-row model state round-trips
    through the driver like tokenizer.py's BPE merge table —
    model-sized by construction, never corpus-sized. Driver arithmetic
    is exact decimal mirroring the oracle's CTE algebra bit for bit:
    the ONLY two non-exact operations in the whole fit are the g and
    alpha double quotients, both evaluated here with DuckDB's division
    + round semantics (_duck_round9).

    Job schedule (round-12 fusion): 2 jobs per step, nothing else —
    the document count m reads off the step-0 gradient aggregate's
    bias-bucket row (every doc carries the bias feature), so the old
    up-front count() job is gone and the cache materializes under the
    first gradient pass instead. The REMAINING per-step pair cannot
    fuse without changing the fitted bits: den_t needs g_t (driver-
    derivable after the gradient job, fine), but the NEXT gradient
    needs err under w_{t+1} = w_t - alpha_t*g_t, and alpha_t needs
    den_t — and the per-doc round(pred, 9) between them is nonlinear
    in alpha, so no sum decomposition can pre-compute the next
    gradient before alpha is known. (Dropping the round, or moving to
    a w-independent X'X co-moment denominator, would fuse — and
    change the model bits, which the oracle contract forbids.)

    ``doc_feats``: a prebuilt (and caller-cached) feature frame — the
    q115 train/held sharing path (round-14 verdict #4): features are
    per-document (filter commutes with _qc_doc_feats bit-exactly), so
    the calibration query builds ONE corpus feature frame and passes
    its train slice here instead of re-deriving the screened-feature
    subtree per slice. When provided, the caller owns the persist."""
    from decimal import Decimal

    if doc_feats is None:
        doc_feats = persist_tracked(_qc_doc_feats(docs))
    m = 1
    w: dict[int, Decimal] = {}
    for step in range(steps):
        if step == 0:  # w0 = 0: pred0 = 0, so err0 = -y directly
            err9_col = (F.lit(0.0) - F.col("y")).cast(_E_DEC)
        else:
            wmap = _map_lit(list(w.items()), _W_DEC)
            # round-then-subtract (y is an integer; identical to
            # subtract-then-round, and the oracle's width-38-safe form)
            err9_col = (
                F.round(_qc_pred_col(wmap), 9).cast(_E_DEC)
                - F.col("y").cast("decimal(2,1)")
            ).cast(_E_DEC)
        sums = _qc_grad_sums(doc_feats, err9_col)
        if step == 0:
            # m = the bias bucket's row count (see _qc_grad_sums);
            # max(, 1) keeps the empty-corpus division defined, the
            # oracle's greatest(m, 1)
            m = max(next((n for d, _, n in sums if d == _QC_BIAS), 0), 1)
        # g = round(CAST(exact sum AS DOUBLE) / m, 9) with DuckDB
        # semantics; |g| <= max|x| <= 1 by Cauchy-Schwarz (see the type
        # notes above)
        g = [(d, _duck_round9(float(s) / m)) for d, s, _ in sums]
        num = float(sum(gv * gv for _, gv in g))  # exact decimal sum
        den_s = _qc_den_sum(doc_feats, _map_lit(g, _G12_DEC))
        den = float(den_s) / m if den_s is not None else 0.0
        if den > 0:
            alpha = min(_duck_round9(num / den), Decimal(repr(_A_CAP)))
        else:  # all-zero gradient / empty corpus: no step, never 0/0
            alpha = Decimal(0)
        for d, gv in g:
            w[d] = w.get(d, Decimal(0)) - alpha * gv
    return doc_feats, w


def classifier_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, src, y, score): the fitted model applied back to the
    corpus — one map-side pass over the cached feature frame; the score
    quantizes through a DECIMAL round (cross-engine exact)."""
    doc_feats, w = fit_quality_classifier(docs)
    wmap = _map_lit(list(w.items()), _W_DEC)
    return doc_feats.select(
        "doc_id",
        "src",
        "y",
        F.round(_qc_pred_col(wmap), 9).cast("double").alias("score"),
    )


def _sql_step(t: int) -> str:
    """One unrolled steepest-descent step as oracle CTEs: p{t} (per-doc
    prediction under w{t}), g{t+1} (mean gradient), a{t+1} (line-search
    alpha), w{t+1} (exact-decimal update)."""
    return f"""p{t} AS MATERIALIZED (
  SELECT f.doc_id, sum(w{t}.w * f.xn) AS pred
  FROM feat f JOIN w{t} ON w{t}.d = f.d GROUP BY f.doc_id
),
e{t} AS MATERIALIZED (
  -- y is an integer, so round(pred - y, 9) == round(pred, 9) - y;
  -- rounding FIRST keeps the decimal subtraction inside width 38
  SELECT p{t}.doc_id,
         CAST(CAST(round(p{t}.pred, 9) AS DECIMAL(19,9))
              - CAST(b.y AS DECIMAL(2,1)) AS DECIMAL(19,9)) AS e9
  FROM p{t} JOIN base b ON b.doc_id = p{t}.doc_id
),
g{t + 1} AS MATERIALIZED (
  SELECT f.d,
         round(CAST(sum(e{t}.e9 * f.xn) AS DOUBLE)
               / greatest((SELECT m FROM m), 1), 9) AS g
  FROM feat f JOIN e{t} ON e{t}.doc_id = f.doc_id GROUP BY f.d
),
a{t + 1} AS MATERIALIZED (
  SELECT CASE WHEN coalesce(den.den, 0) > 0
              THEN CAST(least(round(num.num / den.den, 9), {_A_CAP})
                        AS DECIMAL(14,9))
              ELSE CAST(0 AS DECIMAL(14,9)) END AS alpha
  FROM (SELECT CAST(sum(CAST(g AS DECIMAL(12,9)) * CAST(g AS DECIMAL(12,9)))
                    AS DOUBLE) AS num FROM g{t + 1}) num,
       (SELECT CAST(sum(xg9 * xg9) AS DOUBLE)
                 / greatest((SELECT m FROM m), 1) AS den
        FROM (SELECT CAST(round(sum(CAST(gg.g AS DECIMAL(12,9)) * f.xn), 9)
                          AS DECIMAL(12,9)) AS xg9
              FROM feat f JOIN g{t + 1} gg ON gg.d = f.d
              GROUP BY f.doc_id)) den
),
w{t + 1} AS MATERIALIZED (
  SELECT w{t}.d,
         CAST(w{t}.w - (SELECT alpha FROM a{t + 1})
                       * CAST(g{t + 1}.g AS DECIMAL(12,9))
              AS DECIMAL(26,18)) AS w
  FROM w{t} JOIN g{t + 1} ON g{t + 1}.d = w{t}.d)"""


def _qc_fit_ctes(base_where: str = "") -> str:
    """The shared fit-CTE chain (token rows → per-doc base/features →
    three unrolled steepest-descent steps → w3), parameterized on an
    optional ``base_where`` doc filter so q115's held-out calibration
    fits on the TRAIN slice through the exact same SQL q104 fits on
    the full corpus — the fit algebra must never exist twice."""
    return f"""toks AS MATERIALIZED (
  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
rows_ AS MATERIALIZED (
  SELECT doc_id, source, t, CAST(len(t) AS BIGINT) AS nr,
         {_SQL_YROW} AS yr,
         round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 9) AS ur
  FROM toks WHERE len(t) >= 1
),
base AS MATERIALIZED (
  SELECT doc_id, min(source) AS src, sum(nr) AS n, min(yr) AS y, min(ur) AS ur
  FROM rows_ {base_where} GROUP BY doc_id
),
m AS MATERIALIZED (SELECT count(*) AS m FROM base),
occ AS MATERIALIZED (
  SELECT doc_id, {_SQL_BUCKET} AS d
  FROM (SELECT doc_id, unnest(t) AS tok FROM rows_)
),
featc AS MATERIALIZED (
  SELECT o.doc_id, o.d,
         CAST(round(CAST(count(*) AS DOUBLE) / b.n, 9) AS DECIMAL(10,9)) AS xn
  FROM occ o JOIN base b ON b.doc_id = o.doc_id GROUP BY o.doc_id, o.d, b.n
),
feat AS MATERIALIZED (
  SELECT * FROM featc
  UNION ALL SELECT doc_id, CAST({_QC_BIAS} AS BIGINT),
                   CAST(1.0 AS DECIMAL(10,9)) FROM base
  UNION ALL SELECT doc_id, CAST({_QC_LEN} AS BIGINT),
                   CAST(CAST(least(n, 100) AS DOUBLE) / 100.0 AS DECIMAL(10,9))
            FROM base
  UNION ALL SELECT doc_id, CAST({_QC_UNIQ} AS BIGINT),
                   CAST(ur AS DECIMAL(10,9)) FROM base
),
e0 AS MATERIALIZED (
  SELECT doc_id, CAST(0.0 - y AS DECIMAL(19,9)) AS e9 FROM base
),
g1 AS MATERIALIZED (
  SELECT f.d,
         round(CAST(sum(e0.e9 * f.xn) AS DOUBLE)
               / greatest((SELECT m FROM m), 1), 9) AS g
  FROM feat f JOIN e0 ON e0.doc_id = f.doc_id GROUP BY f.d
),
a1 AS MATERIALIZED (
  SELECT CASE WHEN coalesce(den.den, 0) > 0
              THEN CAST(least(round(num.num / den.den, 9), {_A_CAP})
                        AS DECIMAL(14,9))
              ELSE CAST(0 AS DECIMAL(14,9)) END AS alpha
  FROM (SELECT CAST(sum(CAST(g AS DECIMAL(12,9)) * CAST(g AS DECIMAL(12,9)))
                    AS DOUBLE) AS num FROM g1) num,
       (SELECT CAST(sum(xg9 * xg9) AS DOUBLE)
                 / greatest((SELECT m FROM m), 1) AS den
        FROM (SELECT CAST(round(sum(CAST(gg.g AS DECIMAL(12,9)) * f.xn), 9)
                          AS DECIMAL(12,9)) AS xg9
              FROM feat f JOIN g1 gg ON gg.d = f.d
              GROUP BY f.doc_id)) den
),
w1 AS MATERIALIZED (
  SELECT d, CAST(CAST(0 AS DECIMAL(26,18))
                 - (SELECT alpha FROM a1) * CAST(g AS DECIMAL(12,9))
            AS DECIMAL(26,18)) AS w
  FROM g1
),
{_sql_step(1)},
{_sql_step(2)}"""


_QC_ORACLE = f"""
WITH {_qc_fit_ctes()},
scores AS MATERIALIZED (
  SELECT b.doc_id, b.src, b.y, CAST(round(p.pred, 9) AS DOUBLE) AS score
  FROM base b
  JOIN (SELECT f.doc_id, sum(w3.w * f.xn) AS pred
        FROM feat f JOIN w3 ON w3.d = f.d GROUP BY f.doc_id) p
    ON p.doc_id = b.doc_id
)
SELECT src AS source, CAST(y AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN score >= {_QC_FLAG} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       -- dmean pattern, deliberately UNrounded: scores are 9-decimal
       -- shorts and group counts are small, so round(sum/count, 9)
       -- lands on exact round-half boundaries often enough to diverge
       -- the engines (seen at sf0.01); the raw division of identical
       -- inputs is bit-identical instead
       CAST(sum(CAST(score AS DECIMAL(28,12))) AS DOUBLE) / count(*)
         AS mean_score
FROM scores GROUP BY src, y
"""


@register(
    "q104_quality_classifier",
    headline=True,  # benches the learned tier: hashed features + 3
    #                 unrolled exact-decimal steepest-descent steps +
    #                 broadcast scoring
    tags=("datapipe", "text", "quality", "ml"),
    oracle=_QC_ORACLE,
)
def q104_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit the hashed-n-gram linear quality model in-engine, score every
    document map-side from the broadcast weight table, and report the
    calibration matrix per (source, label): document counts, how many
    the model flags as quality (score >= 0.5), and the exact-decimal
    mean score — the separation between the label rows is the model's
    learned signal, cross-checked cell-exact against DuckDB's unrolled
    replica of the same three steepest-descent steps."""
    from ..session import default_parallelism

    docs = load(spark, sf_dir, "documents").repartition(default_parallelism())
    scores = classifier_scores(docs)
    return scores.groupBy(
        F.col("src").alias("source"), F.col("y").cast("bigint").alias("label")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("score") >= _QC_FLAG, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
        # unrounded dmean — see the oracle's inline note
        (F.sum(F.col("score").cast(DEC12)).cast("double") / F.count(F.lit(1))).alias(
            "mean_score"
        ),
    )
