"""Determinism helpers shared by the query catalog.

Cross-engine (Spark vs DuckDB) bit-exact aggregation rules:

- ``dsum``: sum through DECIMAL — decimal addition is exact and
  associative, so partitioned/partial aggregation order cannot change the
  result; final CAST to DOUBLE is a single deterministic rounding.
- ``dmean``: exact decimal sum divided by the count as one double
  division (both engines evaluate IEEE-754 identically).
- per-row arithmetic stays in DOUBLE (deterministic per-row), and is cast
  to DECIMAL *before* any aggregation.

CAUTION — double→decimal casts: Spark routes them through the double's
*shortest string representation* (``BigDecimal.valueOf``); DuckDB rounds
the exact binary value. For doubles that are near-exact short decimals
(parquet money values, products of 2-dec values) both agree; for
arbitrary full-precision doubles (sqrt/division results) they can differ
in the last decimal. Round such doubles (e.g. ``round(x, 9)``) before any
decimal cast so the cast is unambiguous in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Wide enough for sf=1000-scale sums; parquet doubles carry ≤ 6 fractional
# digits in this corpus so scale 6 is lossless per-row.
DEC = "decimal(28,6)"


def dec(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col, alias: str) -> Column:
    """Exact sum of a double column (through decimal), output DOUBLE."""
    return F.sum(dec(col)).cast("double").alias(alias)


def dmean(col, alias: str) -> Column:
    """Deterministic mean: exact decimal sum ÷ count, as one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias(alias)


# Array-embedding folds (the similarity family: q04/q06/q39/...).
# decimal(28,12): wide enough for |dot| of unit-ish embedding vectors,
# 12 fractional digits so per-term products round identically to the
# oracles' exploded SUM(CAST(.. AS DECIMAL(28,12))) terms. Decimal
# addition is exact and associative, so the in-row fold, Spark's
# partial aggregation, and DuckDB's exploded sum all yield the same
# bits. Inputs are cast to double per-element first (deterministic
# per-row), matching the oracle CTEs term-for-term.
DEC12 = "decimal(28,12)"


def dec12(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC12)


def dfold12(arr) -> Column:
    """Exact decimal sum of an array of decimal terms, output DOUBLE."""
    return F.aggregate(
        arr, F.lit(0).cast(DEC12), lambda acc, v: dec12(acc + v)
    ).cast("double")


def ddot12(a, b) -> Column:
    """Exact-decimal dot product of two double arrays, output DOUBLE.

    PRECONDITION: fixed-dimension embeddings — zip_with over ragged
    vectors nulls the tail where an oracle's pos-equality join covers
    the intersection; q27_embedding_stats' dimension check screens."""
    return dfold12(
        F.zip_with(a, b, lambda x, y: dec12(x.cast("double") * y.cast("double")))
    )


def dnrm12(a) -> Column:
    """Exact-decimal L2 norm of a double array, output DOUBLE."""
    return F.sqrt(
        dfold12(F.transform(a, lambda x: dec12(x.cast("double") * x.cast("double"))))
    )


def ddbl(a, b) -> Column:
    """Plain IEEE-double dot product of two double arrays — the cheap
    PRE-GATE companion of ddot12, never a result value.

    Each per-element product fl(x*y) is the IDENTICAL double ddot12
    rounds into its decimal terms; only the summation differs (native
    double adds instead of the exact decimal fold). Used exclusively
    inside conservative threshold pre-gates (see _pairs._pair_pregate)
    where the exact decimal filter still adjudicates every surviving
    pair, so the fold's rounding can never reach a result."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# SQL-side (DuckDB) mirrors — keep these textually in sync with the above.
SQL_DEC = "DECIMAL(28,6)"


# The finiteness guard mirrors Spark's double→decimal cast, which
# yields NULL for NaN/Inf (then skipped by sum) where DuckDB's CAST
# errors outright: both engines therefore sum exactly the finite
# values. `x - x = 0` is the ENGINE-PORTABLE finiteness test (NaN-NaN
# and Inf-Inf are NaN, any finite numeric gives 0) — it must stay
# portable because q72 interpolates this macro into Spark SQL, where
# DuckDB's isfinite() doesn't exist. dmean's denominator stays
# count(expr) — non-null values including a poisoned Inf — matching
# Spark's F.count(c) precisely.


def sql_dsum(expr: str) -> str:
    return (
        f"CAST(sum(CAST((CASE WHEN (({expr}) - ({expr})) = 0 THEN ({expr}) END)"
        f" AS {SQL_DEC})) AS DOUBLE)"
    )


def sql_dmean(expr: str) -> str:
    return f"({sql_dsum(expr)} / count({expr}))"


# --- Non-finite screening for the embedding family -----------------------
# The decimal-exactness contract cannot represent NaN/Inf: Spark's
# double→decimal cast yields NULL (which then poisons zip_with folds),
# DuckDB's errors outright. An embedding with ANY non-finite component
# is garbage — a real 100 TB pipeline screens it at index build, and
# that is the cross-engine-symmetric semantics here: screened vectors
# simply don't exist for ANN/near-dup/stats purposes. The Spark filter
# also drops NULL embeddings and embeddings with a NULL element
# (exists() over a NULL array — or with a NULL predicate result and no
# TRUE — is NULL, which the filter rejects); the SQL mirrors both via
# the IS NOT NULL conjunct and the `x IS NULL OR` arm of the element
# screen (DuckDB's list_filter silently skips NULL-predicate elements,
# so without that arm a NULL component would pass).


def finite_embeddings(df, col: str = "embedding"):
    """Rows whose embedding is non-null, has only finite components,
    and has at least one NONZERO component. The all-zero vector is the
    third garbage class next to NaN/Inf (a failed embedding job often
    emits zeros): its norm is 0, so every cosine against it is 0/0 —
    under Spark 4's ANSI mode that's not a NULL, it's a job-killing
    DIVIDE_BY_ZERO (caught by a zero-vector corpus probe in round 8).
    Screened identically in both engines."""
    return df.filter(emb_finite_cond(col))


# Magnitude bound on embedding components. Two overflow surfaces, and
# the bound must cover BOTH:
# - the per-term cast: x*x past DECIMAL(28,12)'s 16 integral digits
#   (|x| >= 1e8) dies in the screen itself (Spark ANSI CAST_OVERFLOW;
#   DuckDB cast error);
# - the FOLD ACCUMULATOR: dfold12 re-casts every partial sum back to
#   DECIMAL(28,12) (Spark decimal addition cannot widen past 38
#   without precision loss, so a wider accumulator would silently
#   round the 12th decimal instead — worse), so the SUM of squares
#   must stay under 1e16 too. A vector of [8e7, 8e7] passes a
#   per-term-only bound yet its norm fold hits 1.28e16 → Spark ANSI
#   NUMERIC_VALUE_OUT_OF_RANGE while DuckDB's sum widens to
#   DECIMAL(38,12) and succeeds — a job-killer AND an engine
#   divergence (round-9 review find).
# 1e4 bounds both for any dimension below 1e8: x*x <= 1e8 per term,
# sum < dim * 1e8 < 1e16. A finite component at even 1e4 is
# embedding-garbage by any measure (unit-ish vectors), so both engines
# treat it as the fourth garbage class next to NaN/Inf/degenerate-norm
# and screen the vector out.
EMB_MAX_ABS = 1e4


def emb_finite_cond(col: str = "embedding") -> Column:
    """The screen's keep-condition as an expression (NULL for a NULL
    array / NULL element — filters drop it, eqNullSafe-style consumers
    must treat NULL as not-kept). Shared by finite_embeddings and the
    q12 audit's embeddings_finite check so the monitored metric can
    never drift from the screen it monitors.

    The degenerate-norm clause tests the QUANTIZED squares, not raw
    components: the norm every cosine divides by is
    sqrt(sum(dec12(x*x))), and dec12 rounds each square to 12 decimals
    — a vector of components all below ~7.1e-7 is nonzero yet has
    decimal norm 0, the same ANSI 0/0 job-killer as the all-zero
    vector. Squares are non-negative and decimal addition is exact, so
    "some quantized square > 0" is exactly "decimal norm > 0".

    The quantized-square term is guarded by the EMB_MAX_ABS bound IN
    THE LAMBDA, not just in the first conjunct: exists() evaluates its
    predicate on every element of every row — including rows the
    magnitude conjunct screens — so the decimal cast must be
    unreachable for out-of-range components in this clause too (the
    when() yields NULL there, exactly what the cast produced for
    NaN/Inf before)."""
    in_range = lambda x: F.abs(x.cast("double")) < F.lit(EMB_MAX_ABS)  # noqa: E731
    return ~F.exists(
        col, lambda x: F.isnan(x) | ~in_range(x)
    ) & F.exists(
        col,
        lambda x: F.when(
            in_range(x), dec12(x.cast("double") * x.cast("double"))
        ).otherwise(F.lit(None).cast(DEC12))
        > 0,
    )


# DuckDB source replacing a bare `FROM embeddings` in the oracles —
# aliased back to `embeddings` so surrounding SQL is unchanged. A
# trailing `WHERE ...` in the caller still applies (it binds to the
# outer FROM, not the screened subquery).
# The degenerate-norm clause guards its decimal cast with the portable
# x - x = 0 finiteness test (sql_dsum's trick): DuckDB ERRORS casting a
# non-finite double to DECIMAL, and list_filter evaluates the lambda on
# every element of every row — including the NaN rows the preceding
# conjunct screens — so the cast must be unreachable for them.
# The in-lambda guard needs BOTH the x - x = 0 finiteness test AND the
# EMB_MAX_ABS magnitude bound: an out-of-range finite passes the former
# but overflows the decimal square / the Spark-side sum — same
# unreachability rule as the Spark when() above. The bound is
# interpolated from EMB_MAX_ABS so it CANNOT drift from the Spark
# screen (round-9 advice: a duplicated literal guarded only by a
# comment is exactly the silent engine divergence this module exists
# to prevent).
SQL_EMB_FINITE = (
    "embedding IS NOT NULL"
    " AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x)"
    f" OR abs(CAST(x AS DOUBLE)) >= {EMB_MAX_ABS!r})) = 0"
    " AND len(list_filter(embedding, x -> CASE WHEN (CAST(x AS DOUBLE) - CAST(x AS DOUBLE)) = 0"
    f" AND abs(CAST(x AS DOUBLE)) < {EMB_MAX_ABS!r}"
    " THEN CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12)) > 0"
    " ELSE FALSE END)) > 0"
)
SQL_EMB_SRC = f"(SELECT * FROM embeddings WHERE {SQL_EMB_FINITE}) embeddings"
