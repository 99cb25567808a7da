"""Line/paragraph-hash corpus dedup — the CCNet first pass.

The canonical web-corpus cleaning step (Wenzek et al. 2020, CCNet;
also RefinedWeb's line-wise filter): hash every newline-delimited
line across the WHOLE corpus after a cheap normalization, drop the
lines whose hash recurs across documents (navigation chrome, cookie
banners, boilerplate headers), and keep the scrubbed document. This
sits between whole-document dedup (q28/q13/q108 — too coarse to
catch a shared banner) and the capped substring tier (q45–q47 —
span-based, not corpus-wide line hashes).

Unit + normalization: lines are ``split(text, '\\n')``; the dedup key
is ``md5`` of the lowercased, whitespace-collapsed line (CCNet hashes
normalized paragraphs so trailing-space/case variants of one banner
collapse). Empty-normalized lines (blank / whitespace-only) are
structural, never dedup candidates, and always kept. A line is
boilerplate when its normalized hash occurs in >= _LINE_DUP_N
per-document distinct occurrences — intra-document repeats don't
vote (self-repetition is q102/q103's tier) but EVERY occurrence of a
boilerplate line is removed, intra-doc repeats included.

Scale shape (the q09 in-array-distinct + q46 in-array-masking
idioms): per-doc DISTINCT line hashes build map-side
(array_distinct before the explode — no count-distinct shuffle);
the exploded (doc_id, h) frame is persist_tracked (compact: id +
32-byte hash) because it feeds BOTH the global duplicate vote and
the per-doc removal lists; the removal list joins back to the
UNEXPLODED doc row once (doc-keyed — legitimately SMJ at scale,
both sides corpus-bounded) and masking/reconstruction is in-array
per row. No line-level reassembly shuffle of corpus text exists:
the original text row is reused, so line content never transits a
collect_list.

The reference has no corpus-dedup surface; this extends the engine
for LLM-corpus curation (brief's training-data mandate). Streaming
twin: streaming/linedup.py (batch-fitted duplicate-line set,
stream-static join, the q108 shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register

# A normalized line is boilerplate when it appears in at least this
# many per-document distinct occurrences corpus-wide.
_LINE_DUP_N = 2

# lowercased, whitespace-collapsed line — the dedup key's preimage.
# split-on-space + drop-empties + rejoin (not a \s regex) so both
# engines normalize identically byte-for-byte. The coalesce is
# load-bearing: DuckDB's array_to_string([], ' ') is NULL where
# Spark's array_join([], ' ') is '' — without it the scrub predicate
# goes NULL on blank/whitespace-only lines and list_filter silently
# DROPS them oracle-side (caught by the engineered multi-line corpus
# in tests/test_linedup.py; invisible on the newline-free driver
# corpus).
_SQL_NORM = (
    "coalesce(lower(array_to_string("
    "list_filter(string_split({l}, ' '), x -> x <> ''), ' ')), '')"
)


def _norm(line) -> F.Column:
    return F.lower(F.array_join(F.filter(F.split(line, " "), lambda x: x != ""), " "))


def line_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, source, ls): the per-doc line array. Null-text docs are
    excluded symmetrically with the oracle's WHERE text IS NOT NULL."""
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", "source", F.split("text", "\n").alias("ls")
    )


def doc_line_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, h): each ROW's distinct non-empty normalized line
    hashes. Distinctness builds IN-ARRAY before the explode (the q09 /
    q47 idiom) so no per-doc dedup shuffle exists and the builder runs
    unchanged on streaming frames. PER-ROW distinctness, not per
    doc_id: duplicate ids vote once per row, matching the oracle's
    list_distinct — id uniqueness is q12's contract, not repaired
    here."""
    hs = F.array_distinct(
        F.transform(
            F.filter("ls", lambda l: _norm(l) != F.lit("")),
            lambda l: F.md5(_norm(l).cast("binary")),
        )
    )
    return line_arrays(docs).select("doc_id", F.explode(hs).alias("h"))


def duplicate_line_set(dlh: DataFrame) -> DataFrame:
    """(h): normalized line hashes with >= _LINE_DUP_N per-doc distinct
    occurrences — the scrub's corpus-fitted 'model'. Input is a
    doc_line_hashes frame so batch (q111/q112) and the streaming twin
    fit the set with the SAME code."""
    return (
        dlh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= _LINE_DUP_N)
        .select("h")
    )


def line_scrub(docs: DataFrame) -> DataFrame:
    """Per-doc scrub: (doc_id, source, n_lines, n_removed,
    scrubbed_text). The q111 report and the q112 per-doc output both
    read this one pipeline.

    The exploded hash frame persists (compact: id + 32-char hash —
    far cheaper than re-reading text and re-exploding twice) because
    it feeds the duplicate vote AND the per-doc removal lists; the
    dup side of the removal join reuses the vote's hash partitioning.
    Masking recomputes md5(norm) per line inside the lambda — O(line)
    per element, the legal HOF shape (no outer O(n) expression is
    dragged in; see the round-11 q09 lesson)."""
    from ..session import persist_tracked

    dlh = persist_tracked(doc_line_hashes(docs))
    dup = duplicate_line_set(dlh)
    rm = dlh.join(dup, "h").groupBy("doc_id").agg(F.collect_list("h").alias("rml"))
    j = line_arrays(docs).join(rm, "doc_id", "left").withColumn(
        "rml", F.coalesce("rml", F.array().cast("array<string>"))
    )
    kept = F.filter(
        "ls",
        lambda l: (_norm(l) == "")
        | ~F.array_contains("rml", F.md5(_norm(l).cast("binary"))),
    )
    return j.select(
        "doc_id",
        "source",
        F.size("ls").cast("bigint").alias("n_lines"),
        (F.size("ls") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.array_join(kept, "\n").alias("scrubbed_text"),
    )


def _sqln(l: str) -> str:
    return _SQL_NORM.format(l=l)


# Shared oracle CTE chain: lines -> per-doc distinct hashes -> global
# duplicate vote -> per-doc removal lists -> in-list masking. The
# Spark side never reassembles lines through a shuffle; the oracle's
# shape mirrors the same in-array masking via list_filter.
_SQL_SCRUB_CTES = f"""
lns AS (
  SELECT doc_id, source, string_split(text, chr(10)) AS ls
  FROM documents WHERE text IS NOT NULL
),
occ AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           list_filter(ls, l -> {_sqln('l')} <> ''),
           l -> md5({_sqln('l')})))) AS h
  FROM lns
),
dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) >= {_LINE_DUP_N}),
rm AS (SELECT doc_id, list(h) AS rml FROM occ JOIN dup USING (h) GROUP BY doc_id),
scrub AS (
  SELECT doc_id, source,
         CAST(len(ls) AS BIGINT) AS n_lines,
         CAST(len(ls) - len(kept) AS BIGINT) AS n_removed,
         -- same coalesce as _SQL_NORM: a fully-scrubbed doc has
         -- kept = [] and DuckDB's array_to_string([]) is NULL where
         -- Spark's array_join([]) is ''
         coalesce(array_to_string(kept, chr(10)), '') AS scrubbed_text
  FROM (
    SELECT l.doc_id, l.source, l.ls,
           list_filter(l.ls, ln -> {_sqln('ln')} = ''
             OR NOT list_contains(coalesce(r.rml, CAST([] AS VARCHAR[])),
                                  md5({_sqln('ln')}))) AS kept
    FROM lns l LEFT JOIN rm r USING (doc_id)
  )
)
"""


@register(
    "q111_line_dedup",
    tags=("datapipe", "dedup", "lines", "ccnet"),
    oracle=f"""
WITH {_SQL_SCRUB_CTES}
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_lines) AS BIGINT) AS n_lines,
       CAST(sum(n_removed) AS BIGINT) AS n_removed,
       CAST(count_if(n_removed > 0) AS BIGINT) AS n_docs_affected
FROM scrub
GROUP BY source
""",
)
def q111_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source line-dedup report: how much of each source is
    corpus-duplicated line boilerplate — the monitoring face of the
    CCNet first pass (removal rates per crawl source drive re-crawl
    and filtering decisions)."""
    scrub = line_scrub(load(spark, sf_dir, "documents"))
    return scrub.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.sum("n_removed").cast("bigint").alias("n_removed"),
        F.sum(F.when(F.col("n_removed") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_affected"),
    )


@register(
    "q112_line_scrub",
    tags=("datapipe", "dedup", "lines", "ccnet", "scrub"),
    oracle=f"""
WITH {_SQL_SCRUB_CTES}
SELECT doc_id, source, n_lines, n_removed, scrubbed_text FROM scrub
""",
)
def q112_line_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document line scrub: the CCNet output corpus — original
    docs with every corpus-duplicated line removed, with before/after
    line counts. A doc made entirely of boilerplate scrubs to ''
    (exact-duplicate removal as the degenerate case, like q46)."""
    return line_scrub(load(spark, sf_dir, "documents"))
