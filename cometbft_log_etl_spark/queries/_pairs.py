"""The in-bucket pair tier, stated ONCE.

Every pairwise query in the catalog generates candidates the same way:
the members that share a key (LSH band bucket, length block, k-gram,
k-means cluster) are collected into one sorted array row, and pairs are
expanded INSIDE that row — element i against every later element — so
candidate pairs never leave their bucket: no pairwise self-join, no
position explode, nothing corpus-sized broadcast. ``in_array_pairs`` is
that candidate generator; ``cosine_pair_tier`` adds the embedding
tier's exact verification step on top of it (the candidate-generation +
exact-verification split of distributed similarity search, PAPERS.md).
The pair rule and the pre-gate each have one place to change.

Plan-text contract: the v4 fingerprints (``bench._normalize_plan``)
hash the filter text and the per-line renumbered lambda variables, so
the slice spelling and the lambda shapes below are part of every
caller's fingerprint — change them only together with a rebase.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ._det import ddbl, ddot12

PairFn = Callable[[Column, Column], Column]


def in_array_pairs(arr: Column | str, build: PairFn, gate: PairFn | None = None) -> Column:
    """Flattened ``build(a, b)`` for every ``i < j`` member pair of the
    array ``arr`` (a = arr[i], b = arr[j]), in array order. ``gate(a,
    b)``, if given, filters the later members between the slice and the
    build, so a gated-out pair never allocates its struct."""
    arr = F.col(arr) if isinstance(arr, str) else arr

    def later(a: Column, i: Column) -> Column:
        tail = F.slice(arr, i + 2, F.size(arr))
        return tail if gate is None else F.filter(tail, lambda b: gate(a, b))

    return F.flatten(
        F.transform(arr, lambda a, i: F.transform(later(a, i), lambda b: build(a, b)))
    )


def _pair_pregate(a: Column, b: Column, thr: float) -> Column:
    """Conservative IEEE-double pre-gate for the exact-decimal pair
    filter ``ddot12(a.emb, b.emb) / (a.nrm * b.nrm) >= thr``.

    The pair tier's hot kernel is the DECIMAL(28,12) dot fold — a
    BigDecimal multiply+add per element per pair — yet at every scale
    factor (and on any sane corpus) only a fraction of a percent of
    in-bucket pairs clear the duplicate threshold (sf0.1 probe: 549 /
    249,792 = 0.22% in q134's stored tier). ``cosine_pair_tier`` runs
    this predicate as the ``in_array_pairs`` gate, so non-candidate
    pairs never allocate a pair struct and never pay the decimal fold;
    the EXACT filter after the explode still adjudicates every
    surviving pair, so results are bit-identical (guide §1.2 "per-task
    work": same distributed shape, cheaper per-pair kernel).

    Conservativeness proof (pre-gate is TRUE whenever the exact filter
    is TRUE — the only direction that matters; extra survivors just
    re-meet the exact filter):

    - exact TRUE ⇒ ``dot_ex`` (the decimal fold cast to double) is
      non-null ⇒ every per-element product fl(x_i·y_i) is a finite
      double inside DECIMAL(28,12) range, and nrm_a/nrm_b are non-null
      finite ≥ 0 (sqrt outputs).
    - ``ddbl`` sums the IDENTICAL fl(x_i·y_i) terms in doubles:
      |dot_dbl − dot_ex| ≤ d·5e-13 (per-term half-up rounding to 12
      decimals) + d·eps·Σ|x_i·y_i| (double summation, eps = 2^-52)
      + eps·|dot_ex| (the fold's final double cast), with
      Σ|x_i·y_i| ≤ ñ_a·ñ_b ≤ (nrm_a + 3e-5)·(nrm_b + 3e-5) for any
      dimension d ≤ 1024 (Cauchy–Schwarz; the decimal norm understates
      the true norm by at most sqrt(d·5e-13) ≤ 2.3e-5).
    - exact TRUE means fl(dot_ex / fl(nrm_a·nrm_b)) ≥ thr, i.e.
      dot_ex ≥ thr·nrm_a·nrm_b·(1 − 3·eps); the degenerate
      nrm_a·nrm_b = 0 branch (+Inf ≥ thr) forces dot_ex ≥ ~1e-12 > 0.
    - Every error term above is ≤ 1e-9·(1 + nrm_a)·(1 + nrm_b) for
      d ≤ 1024, so the margin 1e-6·(1+nrm_a)·(1+nrm_b) — three orders
      of magnitude wider — makes
      ``dot_dbl ≥ thr·nrm_a·nrm_b − margin`` implied by exact TRUE in
      every branch. NULL/NaN/±Inf products make BOTH predicates
      non-TRUE (null decimal terms null the exact fold; NaN compares
      false), so no pair is dropped that the exact filter would keep.
    """
    margin = F.lit(1e-6) * (F.lit(1.0) + a["nrm"]) * (F.lit(1.0) + b["nrm"])
    return ddbl(a["emb"], b["emb"]) >= F.lit(thr) * a["nrm"] * b["nrm"] - margin


def pair_cosine() -> Column:
    """The exact cosine of a ``cosine_pair_tier`` row's ``p`` struct."""
    return F.col("p.dot") / (F.col("p.nrm_a") * F.col("p.nrm_b"))


def cosine_pair_tier(
    members: DataFrame, key: str, order: list[Column | str], cap: int, thr: float
) -> DataFrame:
    """Exact ``cosine >= thr`` pairs inside each ``key`` group of a
    (vec_id, emb, nrm, key, ...) frame, over the group's first ``cap``
    members under ``order`` (rank filter → map-side WindowGroupLimit,
    the degenerate-bucket guard). Output rows are (key, p) with
    p = struct(vec_a < vec_b, dot, nrm_a, nrm_b); ``pair_cosine()``
    reads the cosine back. Each caller projects its own output.

    Plan shape: ONE shuffle collects the capped members into one sorted
    array row per group; the explicit-width round-robin spread keeps
    the compute-dense, byte-light pair stage at full width (AQE's
    byte-based coalescing would serialize it into one task, and a
    key-hashed repartition is elided as redundant with the groupBy's
    partitioning); the double pre-gate runs inside the expansion and
    the exact decimal filter after the explode (``_pair_pregate``)."""
    from ..session import default_parallelism

    wcap = W.partitionBy(key).orderBy(*order)
    grouped = (
        members.withColumn("_rn", F.row_number().over(wcap))
        .filter(F.col("_rn") <= cap)
        .groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "emb", "nrm"))).alias("ms"))
        .filter(F.size("ms") > 1)
        .repartition(default_parallelism())
    )
    pair_arr = in_array_pairs(
        "ms",
        lambda a, b: F.struct(
            a["vec_id"].alias("vec_a"),
            b["vec_id"].alias("vec_b"),
            ddot12(a["emb"], b["emb"]).alias("dot"),
            a["nrm"].alias("nrm_a"),
            b["nrm"].alias("nrm_b"),
        ),
        gate=lambda a, b: _pair_pregate(a, b, thr),
    )
    return grouped.select(key, F.explode(pair_arr).alias("p")).filter(pair_cosine() >= thr)
