"""Winnowing document fingerprints — position-robust local
fingerprinting for near-dup detection (public knowledge: Schleimer,
Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for Document
Fingerprinting" — the MOSS algorithm). Complements the rolling-hash
tier (q85: fixed-stride prefix hashes, alignment-sensitive) with the
guarantee that ANY shared run of at least w + k - 1 tokens produces at
least one shared fingerprint, regardless of where it sits in either
document.

Shape: per document, k-token gram hashes build IN-ARRAY (zip_with
over shifted slices — the q09/q95 idiom; no token explode), each
w-hash window contributes its MINIMUM hash (least() over indexed
positions — indexing an outer array column inside the lambda is O(1)
per element, the round-11 HOF rule's allowed form), and the document's
fingerprint set is the distinct minima. The simplification vs the
paper: fingerprints are the distinct minima VALUES (positions
dropped), which preserves the shared-run guarantee — a shared run
shares a window, hence a minimum — while keeping the set a pure
value multiset both engines order identically.

The sharing tier then counts, per fingerprint, how many documents
carry it (fingerprint-keyed aggregation — vocabulary-of-minima sized
after map-side partials), and each document reports its most-shared
fingerprint's document count: the triage signal a plagiarism/boiler-
plate scan ranks by.

Scale: everything before the sharing join is map-side per-document
array work; the two shuffles are the fingerprint count (bounded by
distinct minima) and the doc-keyed max. Short documents (< w + k - 1
tokens) legitimately emit zero fingerprints and survive with zeroed
counts (the Spark sequence() guard matters: sequence(1, 0) counts
DOWN, unlike DuckDB's empty generate_series — an ungated expression
would fabricate two windows per short doc).

No reference analog (the reference has no dedup surface); q85/q45/
q55 are the sibling fingerprint tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register
from .datapipe import _SQL_H32, _h32

_WIN_K = 4  # tokens per gram
_WIN_W = 4  # gram hashes per winnowing window

_SQL_GRAM = " || ' ' || ".join(f"t[i + {j}]" for j in range(_WIN_K))
_SQL_LEAST = ", ".join(f"h[i + {j}]" for j in range(_WIN_W))


def winnow_fps(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, n_windows, fp) per document — the winnowed
    fingerprint sets, built entirely in-array. ``docs`` needs
    (doc_id, t); shared by the batch query and the streaming twin so
    the gram/hash/minima recipe exists once. Callers persist if they
    fan out."""
    n = F.size("t")
    # slice length floors at 0: a doc shorter than k tokens would pass
    # a NEGATIVE length (n - 3) and Spark's slice() errors on it where
    # DuckDB's generate_series just comes back empty
    glen = F.greatest(n - F.lit(_WIN_K - 1), F.lit(0))
    slices = [F.slice(F.col("t"), j + 1, glen) for j in range(_WIN_K)]
    grams = slices[0]
    for s in slices[1:]:
        grams = F.zip_with(grams, s, lambda a, b: F.concat(a, F.lit(" "), b))
    hashes = docs.select(
        "doc_id",
        F.transform(grams, lambda g: _h32(g)).alias("h"),
    )
    nh = F.size("h")
    nw = F.greatest(nh - F.lit(_WIN_W - 1), F.lit(0))
    # window minima as nested zip_with over SHIFTED SLICES of h — the
    # round-11 HOF rule's safe form. The first draft indexed h from a
    # sequence()-driven lambda, and CollapseProject inlined h's whole
    # gram+hash build into that lambda: the md5 chain re-ran per
    # window element (~15s for 500 docs; 0.35s this way). zip_with
    # inputs are child expressions, evaluated once per row; slice
    # length floors at 0 so short docs fall out as empty arrays on
    # both engines.
    hs = [F.slice(F.col("h"), j + 1, nw) for j in range(_WIN_W)]
    # generic fold so the Spark side tracks _WIN_W exactly like the
    # generated _SQL_LEAST does (round-11 advice: the first version
    # hardcoded a two-level tree that only worked for _WIN_W == 4)
    minima = hs[0]
    for s in hs[1:]:
        minima = F.zip_with(minima, s, lambda a, b: F.least(a, b))
    return hashes.select(
        "doc_id",
        nh.cast("bigint").alias("n_grams"),
        nw.cast("bigint").alias("n_windows"),
        F.array_distinct(minima).alias("fp"),
    )


@register(
    "q75_winnowing_fingerprints",
    tags=("datapipe", "dedup", "fingerprint"),
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
hashes AS MATERIALIZED (
  SELECT doc_id,
         list_transform(
           list_transform(generate_series(1, len(t) - {_WIN_K - 1}),
                          i -> {_SQL_GRAM}),
           g -> {_SQL_H32.format(expr="g")}) AS h
  FROM base
),
fps AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(h) AS BIGINT) AS n_grams,
         CAST(greatest(len(h) - {_WIN_W - 1}, 0) AS BIGINT) AS n_windows,
         list_distinct(list_transform(
           generate_series(1, len(h) - {_WIN_W - 1}),
           i -> least({_SQL_LEAST}))) AS fp
  FROM hashes
),
share AS MATERIALIZED (
  SELECT f, count(*) AS n_docs
  FROM (SELECT doc_id, unnest(fp) AS f FROM fps)
  GROUP BY f
),
per_doc_share AS MATERIALIZED (
  SELECT u.doc_id, max(share.n_docs) AS max_fp_share
  FROM (SELECT doc_id, unnest(fp) AS f FROM fps) u
  JOIN share ON share.f = u.f
  GROUP BY u.doc_id
)
SELECT fps.doc_id, n_grams, n_windows,
       CAST(len(fp) AS BIGINT) AS n_fingerprints,
       CAST(coalesce(per_doc_share.max_fp_share, 0) AS BIGINT) AS max_fp_share
FROM fps LEFT JOIN per_doc_share ON per_doc_share.doc_id = fps.doc_id
""",
)
def q75_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint stats plus the most-shared
    fingerprint's document count — the MOSS-style triage report."""
    from ..session import default_parallelism

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
        .repartition(default_parallelism())
    )
    # persist: the sharing tier and the final report both consume the
    # fingerprint frame — uncached, each re-runs the gram+hash build
    # (compact: one row per doc, the distinct-minima array)
    from ..session import persist_tracked

    fps = persist_tracked(winnow_fps(docs))
    u = fps.select("doc_id", F.explode("fp").alias("f"))
    share = u.groupBy("f").agg(F.count(F.lit(1)).alias("n_docs"))
    pds = (
        u.join(share, "f")
        .groupBy("doc_id")
        .agg(F.max("n_docs").alias("max_fp_share"))
    )
    pds_r = pds.select(F.col("doc_id").alias("s_id"), "max_fp_share")
    return fps.join(pds_r, fps.doc_id == F.col("s_id"), "left").select(
        "doc_id",
        "n_grams",
        "n_windows",
        F.size("fp").cast("bigint").alias("n_fingerprints"),
        F.coalesce(F.col("max_fp_share"), F.lit(0)).cast("bigint").alias(
            "max_fp_share"
        ),
    )
