"""Distributed BPE tokenizer fitting over the documents corpus.

The vocab-induction story so far counts whole tokens (q97) and applies
a BPE-ish regex (q113); this module FITS the merge table itself — the
iterative half of training a tokenizer — as a driver-looped sequence of
DataFrame jobs, the same bounded-iteration shape as the Hash-Min
connected components (neardup.hash_min_components):

  word-frequency table (one aggregation over the corpus)
    → per iteration: adjacent-pair counts (explode + map-side partial
      agg, weighted by word freq) → deterministic argmax (tiny row to
      the driver — the only driver-side state is the merge table
      itself) → columnar in-array merge (higher-order aggregate, no
      Python) → localCheckpoint to cut lineage.

Scale shape: everything iterates over the WORD-FREQUENCY table, whose
size is vocabulary-bounded no matter how big the corpus is — the single
corpus-sized pass is the initial word count. Pair counting is
partial-aggregatable; the per-iteration shuffle key is the (left,
right) symbol pair.

Determinism: greedy leftmost non-overlapping merge application, argmax
ties broken on (left, right) lexicographically — the fitted merge
sequence is a pure function of the corpus, attested THREE ways:
(1) tests/test_tokenizer.py against an independent single-process
Python implementation; (2) since round 9, a full DuckDB oracle that
unrolls the fixed _N_MERGES rounds as CTEs (the q17 k-means unrolling
precedent), so the driver records a real value-hash check instead of
rows-only; (3) the encode half (q18) oracle re-derives the final
symbol state through the same chain.

The oracle's merge-application trick: greedy leftmost non-overlapping
replacement over a symbol ARRAY is exactly SQL ``replace()`` over a
delimiter-encoded string — each symbol wrapped as ``␟sym␟`` (so
adjacent symbols share ``␟␟``), the pair pattern ``␟l␟␟r␟`` replaced
by ``␟lr␟``. ``replace`` scans left-to-right and never rescans
replaced output, which IS the greedy-leftmost-non-overlapping rule;
the doubled inner delimiter keeps a consumed boundary from starving
the next adjacent match (``␟a␟␟a␟␟a␟␟a␟`` → two merges, not one).
Delimiter is chr(31) (ASCII unit separator) — a data contract, not an
assumption: the SQL screens words containing chr(31) out of BOTH
engines' vocab (the corpus has none; if one ever appears, both sides
drop it identically rather than silently diverging).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register

_N_MERGES = 8

# The oracle's symbol-boundary delimiter (see module docstring). Words
# containing it are screened out of the vocab in BOTH engines — the
# corpus contains none (machine-checked by test_tokenizer's contract
# test), so the screen is a no-op today and a loud, symmetric drop if
# the corpus ever grows one.
_DELIM = "\x1f"


def _bpe_oracle_ctes(n_merges: int = _N_MERGES) -> str:
    """The WITH-chain unrolling `n_merges` BPE rounds as DuckDB CTEs:
    words → syms_0 → (pairs_i → best_i → syms_i) × n. Mirrors
    bpe_fit_with_state step for step — same corpus word split, same
    freq weighting, same (cnt DESC, l, r) argmax, same greedy-leftmost
    merge (via the delimiter-encoded replace; module docstring)."""
    d = "chr(31)"
    parts = [
        "words AS ("
        "  SELECT w, count(*) AS freq FROM ("
        "    SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
        f"  WHERE w <> '' AND NOT contains(w, {d}) GROUP BY w)",
        "syms_0 AS (SELECT w, freq, string_split(w, '') AS syms FROM words)",
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(
            f"pairs_{i} AS ("
            "  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM ("
            "    SELECT freq, unnest(syms[1:len(syms)-1]) AS l,"
            "           unnest(syms[2:len(syms)]) AS r"
            f"    FROM syms_{p} WHERE len(syms) >= 2) GROUP BY l, r)"
        )
        parts.append(
            f"best_{i} AS (SELECT {i} AS step, l, r, l || r AS m, cnt"
            f"  FROM pairs_{i} ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        parts.append(
            # LEFT JOIN ON TRUE, not a cross join: on a corpus with
            # fewer than n_merges possible merges best_i is EMPTY, and
            # a cross join would empty syms_i (and every later step) —
            # the Spark loop just stops merging, so the oracle must
            # carry syms_{i-1} through unchanged (caught by the 'ab'
            # one-word corpus: Spark q18 emits the word, a cross-join
            # oracle emitted nothing)
            f"syms_{i} AS ("
            "  SELECT w, freq, CASE WHEN b.m IS NULL THEN syms ELSE"
            "    string_split(trim(replace("
            f"      {d} || array_to_string(syms, {d}||{d}) || {d},"
            f"      {d} || b.l || {d}||{d} || b.r || {d},"
            f"      {d} || b.m || {d}), {d}), {d}||{d}) END AS syms"
            f"  FROM syms_{p} LEFT JOIN best_{i} b ON TRUE)"
        )
    return ",\n".join(parts)


_BPE_MERGES_ORACLE = (
    "WITH\n"
    + _bpe_oracle_ctes()
    + "\nSELECT step, l AS \"left\", r AS \"right\", m AS merged, cnt AS pair_count\nFROM ("
    + " UNION ALL ".join(f"SELECT * FROM best_{i}" for i in range(1, _N_MERGES + 1))
    + ")\nORDER BY step"
)

_BPE_COUNTS_ORACLE = (
    "WITH\n"
    + _bpe_oracle_ctes()
    + f""",
lengths AS (SELECT w, len(syms) AS n_subtokens FROM syms_{_N_MERGES}),
occ AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' AND NOT contains(w, chr(31)))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_subtokens) AS BIGINT) AS n_bpe_tokens
FROM occ JOIN lengths USING (w) GROUP BY doc_id"""
)


def _merge_pair_expr(col, left: str, right: str, merged: str) -> F.Column:
    """Greedy leftmost non-overlapping merge of adjacent (left, right)
    inside a symbol array — pure higher-order aggregate, JVM-side.
    Accepts a column name or a Column so the streaming encoder
    (streaming/tokenize.py) can thread the SAME expression through its
    OOV chain — the merge rule must never exist twice."""
    arr = F.col(col) if isinstance(col, str) else col
    l, r, m = F.lit(left), F.lit(right), F.lit(merged)
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == l) & (s == r),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(m)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_fit_with_state(
    docs: DataFrame, n_merges: int = _N_MERGES
) -> tuple[list[dict], DataFrame]:
    """Fit `n_merges` BPE merges on whitespace words; returns the merge
    table [{step, left, right, merged, pair_count}] AND the final
    (w, freq, syms) table — the fully-merged per-word symbol state, so
    the encode half never re-derives it."""
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter((F.col("w") != "") & ~F.col("w").contains(_DELIM))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = words.select(
        "w", "freq", F.expr("filter(split(w, ''), x -> x <> '')").alias("syms")
    ).localCheckpoint(eager=True)

    merges: list[dict] = []
    for step in range(1, n_merges + 1):
        pairs = (
            syms.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.expr("slice(syms, 1, size(syms) - 1)"),
                        F.expr("slice(syms, 2, size(syms) - 1)"),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(F.col("cnt").desc(), "l", "r").first()
        if best is None:
            break
        merged = best.l + best.r
        merges.append(
            {
                "step": step,
                "left": best.l,
                "right": best.r,
                "merged": merged,
                "pair_count": int(best.cnt),
            }
        )
        syms = syms.select(
            "w", "freq", _merge_pair_expr("syms", best.l, best.r, merged).alias("syms")
        ).localCheckpoint(eager=True)
    return merges, syms


def bpe_fit(docs: DataFrame, n_merges: int = _N_MERGES) -> list[dict]:
    """Merge table only (see bpe_fit_with_state)."""
    return bpe_fit_with_state(docs, n_merges)[0]


@register(
    "q16_bpe_merges",
    tags=("datapipe", "text", "tokenizer", "iterative"),
    oracle=_BPE_MERGES_ORACLE,
)
def q16_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted merge table as a DataFrame. Oracle: the fixed
    _N_MERGES rounds unrolled as DuckDB CTEs (module docstring);
    independent-Python ground truth additionally in
    tests/test_tokenizer.py."""
    docs = load(spark, sf_dir, "documents")
    rows = bpe_fit(docs)
    return spark.createDataFrame(
        rows, "step int, left string, right string, merged string, pair_count bigint"
    ).orderBy("step")


def bpe_encode_word_lengths(docs: DataFrame, merges: list[dict]) -> DataFrame:
    """(word, n_subtokens) after applying the fitted merges in order —
    the encode half of the tokenizer. The merge chain is applied on the
    vocabulary table (bounded), never per occurrence; each merge is the
    same JVM-side greedy-leftmost aggregate used during fitting."""
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter((F.col("w") != "") & ~F.col("w").contains(_DELIM))
        .distinct()
    )
    out = words.select("w", F.expr("filter(split(w, ''), x -> x <> '')").alias("syms"))
    for m in merges:
        out = out.select(
            "w", _merge_pair_expr("syms", m["left"], m["right"], m["merged"]).alias("syms")
        )
    return out.select("w", F.size("syms").alias("n_subtokens"))


@register(
    "q18_bpe_token_counts",
    tags=("datapipe", "text", "tokenizer"),
    oracle=_BPE_COUNTS_ORACLE,
)
def q18_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subtoken counts under the corpus-fitted BPE
    tokenizer (q16's merges applied): the real version of what q113
    approximates with a fixed regex. Word→length comes STRAIGHT from
    the fit's final checkpointed symbol state (no re-derive, no
    re-merge chain) and joins back onto the token stream (vocab-keyed
    join; the corpus side only ever shuffles words). Oracle: the same
    unrolled CTE chain, encode half re-derived from syms_8; ground
    truth additionally in tests/test_tokenizer.py."""
    docs = load(spark, sf_dir, "documents")
    _, state = bpe_fit_with_state(docs)
    lengths = state.select("w", F.size("syms").alias("n_subtokens"))
    occ = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w")).filter(
        (F.col("w") != "") & ~F.col("w").contains(_DELIM)
    )
    return (
        occ.join(lengths, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_subtokens").cast("bigint").alias("n_bpe_tokens"),
        )
    )
