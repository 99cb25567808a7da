"""Bloom-filter ingestion screen — the fixed-budget membership sketch
that accelerates the incremental-dedup family at lake scale (public
knowledge: Bloom 1970; every warehouse's runtime join pruning and
every crawler's seen-URL set is this structure).

Semantics: the already-ingested history's content fingerprints are
folded into a Bloom position set — k = 3 hash positions per
fingerprint over an m-bit domain sized at 8 bits per distinct history
fingerprint (so the false-positive rate stays ~3% at EVERY corpus
scale instead of saturating) — and the incoming batch (q13's
deterministic 20% slice) is screened: a document with any unset
position is DEFINITELY new (the Bloom guarantee: no false negatives)
and skips the exact tier entirely; only the "maybe" residue joins the
history fingerprint table for exact adjudication into true duplicates
vs false positives. The report counts each class per source.

Scale shape at 100 TB:
- the screen side moves 8 BITS per history element (the position
  set), not 32-byte fingerprints — and the batch reaches it as ≤ 3
  position rows per document, a co-partitionable equi-join that AQE
  broadcasts while the set is small and shuffles when it is not
  (a production variant would pack the bitmap per executor; the
  relational restatement keeps the same data movement bounds);
- the EXACT join's probe side is only the maybe residue (~3% of new
  documents plus the true duplicates), so the expensive
  32-byte-key shuffle shrinks by the new-document fraction — the
  whole point of the prescreen;
- m derives from the history's distinct count in-engine (one scalar
  broadcast); nothing corpus-derived is collected to the driver.

Determinism: positions are md5-derived integers mod m — pure integer
arithmetic, no floats anywhere in the query. Classification is
per-(doc_id, source, fp) group with `all positions hit` expressed as
sum(hit) = count(*) — under the duplicate-id probe both engines merge
copies identically, so q108 is NOT in the contract family.

No reference analog (the reference has no dedup surface); q13
(incremental exact dedup) is the tier this screen front-ends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register

_BLOOM_K = 3  # hash functions
_BLOOM_MIN_M = 2048  # floor so tiny fixtures don't saturate
_BLOOM_BITS_PER = 8  # m = max(floor, 8 * distinct history fps)

# per-hash position: salt the fingerprint, take 8 hex chars, mod m
_SQL_POS = "CAST(('0x' || substr(md5(fp || '{i}'), 1, 8)) AS BIGINT) % (SELECT m FROM mrow)"


def _pos(i: int) -> F.Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.col("fp"), F.lit(str(i))).cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % F.col("m")
    )


def _pos_array() -> F.Column:
    return F.array(*[_pos(i) for i in range(_BLOOM_K)])


_HIST_MOD = 10
_HIST_CUT = 8  # doc_id % 10 < 8 -> history (the q13 split convention)


def corpus_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, source, fp, is_hist): the fingerprint + history-split
    frame — ONE definition for the batch screen and the streaming twin
    (the split rule and hash recipe must never exist twice)."""
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        (F.col("doc_id") % _HIST_MOD < _HIST_CUT).alias("is_hist"),
    )


def history_fingerprints(fp: DataFrame) -> DataFrame:
    return fp.filter(F.col("is_hist")).select("fp").distinct()


def bloom_m_frame(hist: DataFrame) -> DataFrame:
    """One-row m scalar: max(floor, bits-per-element * |history fps|)."""
    return hist.agg(
        F.greatest(
            F.lit(_BLOOM_MIN_M).cast("bigint"),
            (F.lit(_BLOOM_BITS_PER) * F.count(F.lit(1))).cast("bigint"),
        ).alias("m")
    )


@register(
    "q71_bloom_screen",
    tags=("datapipe", "dedup", "sketch", "incremental"),
    oracle=f"""
WITH fp AS MATERIALIZED (
  SELECT doc_id, source, md5(text) AS fp, doc_id % 10 < 8 AS is_hist
  FROM documents WHERE text IS NOT NULL
),
hist AS MATERIALIZED (SELECT DISTINCT fp FROM fp WHERE is_hist),
mrow AS MATERIALIZED (
  SELECT greatest({_BLOOM_MIN_M}, {_BLOOM_BITS_PER} * count(*)) AS m FROM hist
),
hpos AS MATERIALIZED (
  SELECT DISTINCT pos FROM (
    SELECT unnest(list_value(
      {", ".join(_SQL_POS.format(i=i) for i in range(_BLOOM_K))})) AS pos
    FROM hist
  )
),
bpos AS MATERIALIZED (
  SELECT doc_id, source, fp, unnest(list_value(
    {", ".join(_SQL_POS.format(i=i) for i in range(_BLOOM_K))})) AS pos
  FROM fp WHERE NOT is_hist
),
scr AS MATERIALIZED (
  SELECT b.doc_id, b.source, b.fp,
         sum(CASE WHEN h.pos IS NOT NULL THEN 1 ELSE 0 END) = count(*) AS maybe
  FROM bpos b LEFT JOIN hpos h ON h.pos = b.pos
  GROUP BY b.doc_id, b.source, b.fp
),
cls AS MATERIALIZED (
  SELECT source, 'new' AS cls FROM scr WHERE NOT maybe
  UNION ALL
  SELECT s.source,
         CASE WHEN hist.fp IS NOT NULL THEN 'dup' ELSE 'fp' END AS cls
  FROM scr s LEFT JOIN hist ON hist.fp = s.fp
  WHERE s.maybe
)
SELECT source,
       count(*) AS n_batch,
       CAST(count(*) FILTER (WHERE cls = 'new') AS BIGINT) AS n_new,
       CAST(count(*) FILTER (WHERE cls <> 'new') AS BIGINT) AS n_maybe,
       CAST(count(*) FILTER (WHERE cls = 'dup') AS BIGINT) AS n_true_dup,
       CAST(count(*) FILTER (WHERE cls = 'fp') AS BIGINT) AS n_false_pos
FROM cls GROUP BY source
""",
)
def q71_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen the incoming batch against the history Bloom position
    set, exact-verify only the maybe residue, and report per-source
    new / maybe / true-duplicate / false-positive counts."""
    fp = corpus_fingerprints(load(spark, sf_dir, "documents"))
    hist = history_fingerprints(fp)
    mrow = bloom_m_frame(hist)
    hpos = (
        hist.crossJoin(F.broadcast(mrow))
        .select(F.explode(_pos_array()).alias("pos"))
        .distinct()
    )
    bpos = (
        fp.filter(~F.col("is_hist"))
        .crossJoin(F.broadcast(mrow))
        .select("doc_id", "source", "fp", F.explode(_pos_array()).alias("pos"))
    )
    scr = (
        bpos.join(hpos.withColumn("hit", F.lit(1)), "pos", "left")
        .groupBy("doc_id", "source", "fp")
        .agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) == F.count(F.lit(1))).alias(
                "maybe"
            )
        )
    )
    new_cls = scr.filter(~F.col("maybe")).select("source", F.lit("new").alias("cls"))
    ver_cls = (
        scr.filter(F.col("maybe"))
        .join(hist.withColumn("dup", F.lit(True)), "fp", "left")
        .select(
            "source",
            F.when(F.col("dup").isNotNull(), F.lit("dup"))
            .otherwise(F.lit("fp"))
            .alias("cls"),
        )
    )
    zero = F.lit(0).cast("bigint")

    def n(cond, name):
        return F.sum(F.when(cond, 1).otherwise(zero)).cast("bigint").alias(name)

    return (
        new_cls.unionByName(ver_cls)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            n(F.col("cls") == "new", "n_new"),
            n(F.col("cls") != "new", "n_maybe"),
            n(F.col("cls") == "dup", "n_true_dup"),
            n(F.col("cls") == "fp", "n_false_pos"),
        )
    )
