"""CCNet-style perplexity banding — language-model quality tiers for
corpus curation (public knowledge: Wenzek et al. 2020, "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data",
which buckets each language's documents into head/middle/tail by
perplexity under a reference-domain LM; the LLaMA / RedPajama data
recipes reuse the same step).

Shape: a per-language add-one-smoothed bigram LM is fitted IN-ENGINE
on a TARGET slice (the corpus's alphabetically-first source — the same
curated-domain stand-in q105's DSIR tier uses), every document is
scored by its mean bigram log-probability under its own language's
model (unseen contexts fall back to the uniform 1/V mass), and the
per-language tertile thresholds band the corpus into head (most
fluent) / middle / tail. Low perplexity == high mean log-prob == head,
exactly CCNet's orientation.

Determinism: per-bigram log-probs are the only transcendental —
rounded at 9 like q15's NB log-probs and q95's MLE bigram scores (the
accepted measure-zero exposure); they sum through exact decimal, and
the single double quotient (mean log-prob) is one IEEE division of a
<2^53-scaled decimal by an integer count, hence bit-identical across
engines (the dmean pattern). The banding domain is the quotient
DISCRETIZED to integer milli-nats (floor(avg*1000) — floor of an
exact product of bit-identical doubles), so thresholds, band edges,
and every output column are integers: no float ever reaches the
result.

Scale shape at 100 TB:
- bigrams build IN-ARRAY (zip_with over shifted slices — the q95/q09
  shape; no posexplode self-join, no O(tokens^2) lambda);
- the LM fit aggregates the TARGET slice only (c2/c1 are
  bigram-vocabulary-sized after map-side partials; V is one
  countDistinct per language over per-doc-deduped tokens);
- scoring joins the corpus bigram stream against the vocab-sized
  count tables on (lang, w1[, w2]) — the stopword-w1 skew is the AQE
  skew-join case q95 documents — and reduces doc-keyed once;
- the tertile machinery NEVER windows the corpus: per-doc scores
  collapse to a (lang, milli-nat) -> count distribution FIRST (the
  q26 restatement — the domain is bounded by the log-prob range, not
  the corpus), cumulative counts over that tiny table yield discrete
  thresholds, and the band report aggregates the same distribution.

Duplicate-id posture: NOT in the contract family — both engines group
per-doc scores by (doc_id, lang), so duplicate ids merge identically
on both sides (their bigram rows union before the mean), and
everything downstream consumes the merged distribution symmetrically.

No reference analog (the reference has no text-curation surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..tables import load
from . import register

_LP_DEC = "decimal(14,9)"  # rounded bigram log-probs: |ln 1/(n1+V)| << 1e4
_MILLI = 1000  # milli-nat discretization of the mean log-prob


def _bigrams(frame: DataFrame, *keys: str) -> DataFrame:
    """(*, w1, w2) bigram stream built in-array — zip_with over shifted
    slices so nothing re-evaluates per element (the round-11 HOF rule)."""
    return frame.select(
        *keys,
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.expr("slice(t, 2, size(t) - 1)"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select(*keys, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def fit_bigram_lm(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(c2, c1, voc): the per-language add-one bigram LM fitted on the
    target-domain slice (min(source) — the q105 convention). All three
    are vocabulary-bounded static tables, never corpus-scale — the same
    offline-model adjudication as the BPE length table
    (streaming/tokenize.py), so the streaming twin scores against the
    EXACT tables the batch query uses."""
    toks = docs.select("doc_id", "lang", "source", F.split("text", " ").alias("t"))
    tsrc = docs.agg(F.min("source").alias("tsrc"))
    tbase = toks.join(F.broadcast(tsrc), toks.source == F.col("tsrc")).select(
        "doc_id", "lang", "t"
    )
    tbig = _bigrams(tbase, "lang")
    c2 = tbig.groupBy("lang", "w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    # context totals derive from the bigram counts (sum over w2) — one
    # less target-slice scan than re-counting the bigram stream, and
    # c1 is consistent with c2 by construction
    c1 = c2.groupBy("lang", "w1").agg(F.sum("n12").alias("n1"))
    voc = (
        tbase.select("lang", F.explode(F.array_distinct("t")).alias("tok"))
        .groupBy("lang")
        .agg((F.count_distinct("tok") + F.lit(1)).alias("v"))
    )
    return c2, c1, voc


def logp_col() -> F.Column:
    """round(ln P_add1(w2|w1), 9) as a 9-decimal short, from the joined
    (n12, n1, v) columns — ONE definition for batch and stream."""
    return (
        F.round(
            F.log(
                (F.coalesce(F.col("n12"), F.lit(0)) + F.lit(1.0))
                / (F.coalesce(F.col("n1"), F.lit(0)) + F.coalesce(F.col("v"), F.lit(1)))
            ),
            9,
        )
        .cast(_LP_DEC)
        .alias("logp")
    )


def join_lm(big: DataFrame, c2: DataFrame, c1: DataFrame, voc: DataFrame) -> DataFrame:
    """(doc_id, lang, logp) per bigram: the model joins shared by the
    batch query and the streaming twin (stream-static on the stream
    side — all three static frames are vocabulary-bounded)."""
    c2r = c2.select(
        F.col("lang").alias("l2"), F.col("w1").alias("a2"),
        F.col("w2").alias("b2"), "n12",
    )
    c1r = c1.select(F.col("lang").alias("l1"), F.col("w1").alias("a1"), "n1")
    vocr = voc.select(F.col("lang").alias("lv"), "v")
    return (
        big.join(
            c2r,
            F.col("lang").eqNullSafe(F.col("l2"))
            & (F.col("w1") == F.col("a2"))
            & (F.col("w2") == F.col("b2")),
            "left",
        )
        .join(
            c1r,
            F.col("lang").eqNullSafe(F.col("l1")) & (F.col("w1") == F.col("a1")),
            "left",
        )
        .join(F.broadcast(vocr), F.col("lang").eqNullSafe(F.col("lv")), "left")
        .select("doc_id", "lang", logp_col())
    )


def milli_col(s, nb) -> F.Column:
    """floor(mean-log-prob * 1000): the integer milli-nat — one IEEE
    division of a <2^53-scaled decimal, one multiply, one floor, so the
    double never diverges across engines or between batch and stream."""
    return F.floor(s.cast("double") / nb * F.lit(_MILLI)).alias("mb")


def dist_with_tertiles(perdoc: DataFrame) -> DataFrame:
    """(lang, mb, cnt, t1, t2): the per-language milli-nat distribution
    with discrete tertile thresholds attached — the q26 quantile shape
    over a domain-bounded table, shared by the batch band report and
    the streaming threshold fit (so the cut rule never exists twice).
    ``perdoc`` needs (lang, mb) — one row per scored document."""
    dist = perdoc.groupBy("lang", "mb").agg(F.count(F.lit(1)).alias("cnt"))
    part = W.partitionBy("lang")
    cum = (
        dist.withColumn(
            "cum",
            F.sum("cnt").over(
                part.orderBy(F.col("mb").desc()).rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            ),
        )
        .withColumn("n", F.sum("cnt").over(part))
    )

    def tertile(kexpr: str, name: str):
        # the group whose rank interval starts at or before k holds the
        # k-th highest milli-nat; min picks the containing group because
        # the next group starts at cum+1 > k (the q26 discrete-quantile
        # shape, descending)
        start = F.col("cum") - F.col("cnt") + F.lit(1)
        return F.min(F.when(start <= F.expr(kexpr), F.col("mb"))).over(part).alias(name)

    return cum.select(
        "lang",
        "mb",
        "cnt",
        tertile("(n + 2) div 3", "t1"),
        tertile("(2 * n + 2) div 3", "t2"),
    )



@register(
    "q106_perplexity_bands",
    headline=True,
    tags=("datapipe", "text", "lm", "quality"),
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, lang, source, string_split(text, ' ') AS t FROM documents
),
tsrc AS MATERIALIZED (SELECT min(source) AS tsrc FROM documents),
tbase AS MATERIALIZED (
  SELECT * FROM base WHERE source = (SELECT tsrc FROM tsrc)
),
tbig AS MATERIALIZED (
  SELECT lang, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT lang, t, unnest(generate_series(1, len(t) - 1)) AS i FROM tbase)
),
c2 AS MATERIALIZED (SELECT lang, w1, w2, count(*) AS n12 FROM tbig GROUP BY 1, 2, 3),
c1 AS MATERIALIZED (SELECT lang, w1, sum(n12) AS n1 FROM c2 GROUP BY 1, 2),
voc AS MATERIALIZED (
  SELECT lang, count(DISTINCT tok) + 1 AS v
  FROM (SELECT lang, unnest(list_distinct(t)) AS tok FROM tbase)
  GROUP BY lang
),
big AS MATERIALIZED (
  SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, lang, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM base)
),
lp AS MATERIALIZED (
  SELECT big.doc_id, big.lang,
         CAST(round(ln((coalesce(c2.n12, 0) + 1.0)
                       / (coalesce(c1.n1, 0) + coalesce(voc.v, 1))), 9)
              AS DECIMAL(14,9)) AS logp
  FROM big
  LEFT JOIN c2 ON c2.lang IS NOT DISTINCT FROM big.lang
              AND c2.w1 = big.w1 AND c2.w2 = big.w2
  LEFT JOIN c1 ON c1.lang IS NOT DISTINCT FROM big.lang AND c1.w1 = big.w1
  LEFT JOIN voc ON voc.lang IS NOT DISTINCT FROM big.lang
),
perdoc AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(floor(CAST(sum(logp) AS DOUBLE) / count(*) * {_MILLI}) AS BIGINT)
           AS mb
  FROM lp GROUP BY doc_id, lang
),
dist AS MATERIALIZED (
  SELECT lang, mb, count(*) AS cnt FROM perdoc GROUP BY lang, mb
),
cum AS MATERIALIZED (
  SELECT lang, mb, cnt,
         sum(cnt) OVER (PARTITION BY lang ORDER BY mb DESC
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY lang) AS n
  FROM dist
),
th AS MATERIALIZED (
  SELECT lang, mb, cnt,
         min(CASE WHEN cum - cnt + 1 <= (n + 2) // 3 THEN mb END)
           OVER (PARTITION BY lang) AS t1,
         min(CASE WHEN cum - cnt + 1 <= (2 * n + 2) // 3 THEN mb END)
           OVER (PARTITION BY lang) AS t2
  FROM cum
)
SELECT lang,
       CASE WHEN mb >= t1 THEN 'head'
            WHEN mb >= t2 THEN 'middle'
            ELSE 'tail' END AS band,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       min(mb) AS mb_min, max(mb) AS mb_max,
       max(t1) AS head_cut, max(t2) AS mid_cut
FROM th GROUP BY 1, 2
""",
)
def q106_perplexity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language head/middle/tail perplexity bands under an add-one
    bigram LM fitted on the target-domain slice — CCNet's quality
    bucketing, with the tertile thresholds computed scale-safely over
    the (lang, milli-nat) distribution table."""
    from ..session import default_parallelism

    docs = load(spark, sf_dir, "documents")
    # explicit width on the SCORING side only: a single-file corpus
    # scan otherwise feeds the corpus bigram explode and the LM joins
    # from 1-2 tasks (the round-6 AQE-coalesce class; the q105
    # precedent). The fit side stays unrepartitioned — it reduces the
    # target slice straight into vocabulary-sized aggregates
    toks = docs.select(
        "doc_id", "lang", "source", F.split("text", " ").alias("t")
    ).repartition(default_parallelism())
    c2, c1, voc = fit_bigram_lm(docs)
    big = _bigrams(toks, "doc_id", "lang")
    # null-safe lang equality mirrors the oracle's IS NOT DISTINCT FROM:
    # a null-lang doc must fall to the unseen/1-vocab branch on BOTH
    # engines, not silently drop from a plain-equality join; model
    # columns are renamed inside join_lm so multi-join attribute
    # resolution stays unambiguous
    lp = join_lm(big, c2, c1, voc)
    perdoc = (
        lp.groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("nb"), F.sum("logp").alias("s"))
        .select("lang", milli_col(F.col("s"), F.col("nb")))
    )
    th = dist_with_tertiles(perdoc)
    return (
        th.groupBy(
            "lang",
            F.when(F.col("mb") >= F.col("t1"), F.lit("head"))
            .when(F.col("mb") >= F.col("t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("band"),
        )
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.min("mb").alias("mb_min"),
            F.max("mb").alias("mb_max"),
            F.max("t1").alias("head_cut"),
            F.max("t2").alias("mid_cut"),
        )
    )
