"""Near-duplicate detection + bucketed similarity search over
`documents` / `embeddings` — the scale path of the training-data
pipeline (BASELINE.json north star, beyond the reference surface).

All four queries are fully deterministic cross-engine:
- the only hash is the portable md5-prefix integer (datapipe._h32);
- MinHash signatures/bands are exact integer/string computations;
- SimHash bit sums are integer arithmetic over token hashes;
- LSH hyperplanes are pseudo-random ±1 weights DERIVED from md5 of
  (plane, dimension) — no RNG state, same planes in Spark and DuckDB;
- every float dot product goes through round(x, 9) + DECIMAL sums
  (see queries/_det.py for why).

Scale shape: everything is hash → shuffle-on-short-key → bucket-local
work. Candidate generation never compares all pairs: MinHash bands,
blocking keys, and LSH buckets bound the join fan-out; only
within-bucket pairs are scored.

Degenerate-bucket guard: a boilerplate-heavy corpus (mass-identical
docs) would put millions of members in ONE bucket and go quadratic
there regardless of plan shape. Both LSH tiers therefore cap each
bucket to its ``_BUCKET_CAP`` lowest-id members before pair expansion —
an explicit, deterministic recall knob mirrored exactly in the DuckDB
oracles. The cap is a rank-filter, which Spark rewrites to a map-side
WindowGroupLimit: oversized buckets are truncated before the shuffle,
so neither memory nor pair count can blow up on one key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..session import persist_tracked
from ..tables import load
from . import register
from ._det import (
    DEC12,
    SQL_EMB_SRC,
    dec12,
    ddot12,
    dfold12,
    dnrm12,
    finite_embeddings,
)
from ._pairs import cosine_pair_tier, in_array_pairs, pair_cosine
from .datapipe import _h32

_MINHASH_K = 8  # hash functions
_BANDS = 4  # bands of 2 rows → pairs agreeing on any 2 consecutive sigs collide

# One md5 per shingle; the K-hash family is affine over the base hash
# (the standard one-hash MinHash trick — 8× fewer digest computations,
# bit-identical in both engines since everything stays in BIGINT range:
# a < 2^31, h < 2^32 → a*h + b < 2^63).
_MH_P = 2_147_483_647  # 2^31 - 1
_MH_A = (1_103_515_245, 1_234_567_891, 987_654_323, 705_234_569,
         452_930_477, 193_877_777, 122_949_829, 98_765_431)
_MH_B = (12_345, 67_891, 24_681, 13_579, 86_421, 97_531, 11_111, 77_777)

# Max members considered per LSH bucket (deterministic lowest-id keep).
# Bounds per-bucket pair expansion at C(cap, 2) no matter how skewed the
# corpus; raise for recall, lower for worst-case cost.
_BUCKET_CAP = 64


def _h32_expr(c: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 8), 16, 10).cast("bigint")


_SQL_H32 = "CAST(('0x' || substr(md5({e}), 1, 8)) AS BIGINT)"


# --------------------------------------------------------------------------
# q55 — MinHash + LSH banding


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    """doc → K minhashes, staged for whole-stage codegen.

    Two deliberate plan choices (vs. the obvious nested-higher-order-
    function formulation, which benchmarked ~10× slower):

    1. ``split(text)`` is materialized ONCE per row behind a projection
       boundary. Inlining the Column expression makes every
       ``element_at`` re-split the text per shingle — O(tokens²)
       interpreted string work, since lambda bodies never enter
       codegen and get no common-subexpression elimination.
    2. Shingles are EXPLODED to rows so the md5 runs in generated code,
       and the K affine min-hashes become plain ``min()`` aggregates —
       map-side partial aggregation shrinks each doc to one row of K
       longs before the only shuffle (on ``doc_id``).

    The small up-front round-robin repartition spreads the per-shingle
    hash work across the cluster even when the input is a handful of
    parquet row groups; at real scale file splits already provide this
    and the exchange is ~free (it moves only raw text bytes).
    """
    from ..session import default_parallelism

    t = (
        docs.repartition(default_parallelism())
        .select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 3)
    )
    shingle = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("toks", i),
                F.element_at("toks", i + 1),
                F.element_at("toks", i + 2),
            ),
        )
    )
    hashed = t.select("doc_id", shingle.alias("shingle")).select(
        "doc_id", _h32_expr(F.col("shingle")).alias("h")
    )
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(_MH_A[k]) * F.col("h") + F.lit(_MH_B[k])) % _MH_P).alias(f"m{k}")
            for k in range(_MINHASH_K)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"m{k}") for k in range(_MINHASH_K)]).alias("sig")
    )


# Shared CTE chain: shingle → minhash sig → bands → capped buckets →
# candidate pairs. q55 selects the pairs; q37 builds components on top.
_Q55_CTES = f"""tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_transform(generate_series(1, len(t) - 2),
                                  i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
              ELSE [] END AS shingles
  FROM tok
),
hs AS (
  SELECT doc_id, list_transform(shingles, s -> {_SQL_H32.format(e="s")}) AS hs
  FROM sh WHERE len(shingles) > 0
),
sig AS (
  SELECT doc_id,
         [{", ".join(f"list_aggregate(list_transform(hs, h -> ({a} * h + {b}) % {_MH_P}), 'min')" for a, b in zip(_MH_A, _MH_B))}] AS sig
  FROM hs
),
bands AS (
  SELECT doc_id, sig, unnest(generate_series(0, {_BANDS - 1})) AS band FROM sig
),
bh AS (
  SELECT doc_id, sig, band,
         md5(CAST(sig[2 * band + 1] AS VARCHAR) || ',' || CAST(sig[2 * band + 2] AS VARCHAR)) AS bucket
  FROM bands
),
bhc AS (
  -- degenerate-bucket guard: same deterministic lowest-doc_id cap as
  -- the Spark side (neardup._BUCKET_CAP)
  SELECT doc_id, sig, band, bucket FROM (
    SELECT doc_id, sig, band, bucket,
           row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn
    FROM bh
  ) WHERE rn <= {_BUCKET_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS n_shared_bands,
         any_value(a.sig) AS sig_a, any_value(b.sig) AS sig_b
  FROM bhc a JOIN bhc b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)"""

_Q55_ORACLE = f"""
WITH {_Q55_CTES}
SELECT doc_a, doc_b, n_shared_bands,
       CAST(len(list_filter(generate_series(1, {_MINHASH_K}), i -> sig_a[i] = sig_b[i])) AS DOUBLE)
         / {_MINHASH_K} AS est_jaccard
FROM pairs
"""


def band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig, band, bucket): the banding PROJECTION of a
    signature frame — map-side, no shuffle. Factored out of
    lsh_band_pairs so the streaming incremental fold can band ONLY an
    arriving batch against its materialized band index
    (streaming/incremental.py) with the exact same bucket recipe."""
    # The bucket key is the band's raw sig pair, NOT a hash of it: two
    # docs collide iff the pair values are equal, which is exactly the
    # oracle's md5-of-pair equality — but 16 bytes of longs beats a
    # 32-char digest as a shuffle key and skips a per-row md5.
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(_BANDS - 1))).alias("band"),
    ).select(
        "doc_id",
        "sig",
        "band",
        F.struct(
            F.element_at("sig", F.col("band") * 2 + 1).alias("s1"),
            F.element_at("sig", F.col("band") * 2 + 2).alias("s2"),
        ).alias("bucket"),
    )


def capped_bucket_rows(banded: DataFrame, cap: int = _BUCKET_CAP) -> DataFrame:
    """Truncate every (band, bucket) to its `cap` lowest-doc_id rows
    (rank-filter → map-side WindowGroupLimit) — the degenerate-bucket
    guard. min-k is idempotent under union (min-k(min-k(A) ∪ B) =
    min-k(A ∪ B)), which is what lets the incremental fold store the
    CAPPED index as state and still admit exactly the pairs a full
    re-band would."""
    wrank = W.partitionBy("band", "bucket").orderBy("doc_id")
    return (
        banded.withColumn("_rn", F.row_number().over(wrank))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def bucket_pair_expand(capped: DataFrame) -> DataFrame:
    """In-bucket pair expansion over already-capped band rows: one
    shuffle on (band, bucket), pairs generated inside each bucket
    array, deduped across bands with the shared-band count.

    Output: (doc_a, doc_b, n_shared_bands, agree) — `agree` is the
    signature agreement count (the MinHash Jaccard estimator's
    numerator). Round-15 restatement (guide §2.3 "shuffle keys and
    metadata instead of payloads"): the old shape carried BOTH
    signatures (2 × K longs) through the cross-band dedup exchange per
    pair COPY and every consumer then recomputed the same agreement
    count from them; `agree` is a pure function of the two signatures,
    so computing it in-row at expansion time shuffles one int instead
    — bit-identical downstream (every consumer derives
    est_jaccard = agree / K from the identical integer) and ~10×
    fewer bytes per pair row in the only pair-keyed exchange. The
    min() dedup is exact: all band copies of a pair carry the same
    two signatures, hence the same agree."""
    from ..session import default_parallelism

    members = (
        capped.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sig"))).alias("ms"))
        .filter(F.size("ms") > 1)
        # Explicit-width round-robin before the compute-dense in-row pair
        # expansion: the member rows are byte-light, so AQE would coalesce
        # the O(cap^2)-per-bucket scoring stage into one task (and a
        # bucket-keyed repartition is elided as redundant with the groupBy
        # partitioning). Same reasoning as q06/q57.
        .repartition(default_parallelism())
    )
    pair_arr = in_array_pairs(
        "ms",
        lambda a, b: F.struct(
            a["doc_id"].alias("doc_a"),
            b["doc_id"].alias("doc_b"),
            # the exact expression every consumer used to compute
            # post-shuffle, moved pre-shuffle verbatim
            F.size(
                F.filter(
                    F.sequence(F.lit(1), F.lit(_MINHASH_K)),
                    lambda i: F.element_at(a["sig"], i) == F.element_at(b["sig"], i),
                )
            ).alias("agree"),
        ),
    )
    return (
        members.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.agree")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_bands"),
            F.min(F.col("agree")).alias("agree"),
        )
    )


def lsh_band_pairs(sigs: DataFrame, cap: int = _BUCKET_CAP) -> DataFrame:
    """Band a (doc_id, sig) frame and expand capped bucket-local pairs.

    One shuffle on (band, bucket); each bucket is truncated to its
    ``cap`` lowest-doc_id members FIRST (rank-filter → map-side
    WindowGroupLimit), then pairs are generated inside the bucket
    array — so a bucket of a million identical docs costs C(cap, 2)
    pairs, not C(1e6, 2). Returns one row per (doc_a, doc_b) with
    n_shared_bands and both signatures.

    Composition of band_rows → capped_bucket_rows → bucket_pair_expand;
    the stages are separate so the streaming incremental fold can reuse
    each against its materialized band index without duplicating the
    bucket recipe.
    """
    return bucket_pair_expand(capped_bucket_rows(band_rows(sigs), cap))


@register(
    "q55_minhash_lsh",
    headline=True,
    tags=("datapipe", "dedup", "minhash"),
    oracle=_Q55_ORACLE,
)
def q55_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup candidates via LSH banding.

    shingle(word-3-gram) → K=8 minhashes → 4 bands of 2 → bucket join.
    The pair expansion keys on (band, bucket-hash): at 100 TB the
    shuffle key is 16 bytes and only same-bucket docs ever meet (capped
    per bucket); the signature agreement fraction estimates Jaccard
    without touching the text again.
    """
    sigs = _minhash_sigs(load(spark, sf_dir, "documents"))
    pairs = lsh_band_pairs(sigs)
    # `agree` arrives precomputed from the pair expansion (the same
    # element-wise count, now evaluated before the dedup exchange —
    # see bucket_pair_expand)
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_shared_bands",
        (F.col("agree").cast("double") / _MINHASH_K).alias("est_jaccard"),
    )


# --------------------------------------------------------------------------
# q56 — SimHash fingerprints

_SIMHASH_BITS = 16


def _simhash_sql() -> str:
    sums = ",\n         ".join(
        f"sum(((h >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(_SIMHASH_BITS)
    )
    combine = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS))
    return f"""
WITH tokh AS (
  SELECT doc_id, {_SQL_H32.format(e="unnest(string_split(text, ' '))")} AS h
  FROM documents
),
bits AS (
  SELECT doc_id,
         {sums}
  FROM tokh GROUP BY doc_id
),
sh AS (SELECT doc_id, {combine} AS simhash FROM bits)
SELECT s.doc_id, s.simhash, c.n_cluster
FROM sh s
JOIN (SELECT simhash, count(*) AS n_cluster FROM sh GROUP BY simhash) c USING (simhash)
"""


@register(
    "q56_simhash",
    tags=("datapipe", "dedup", "simhash"),
    oracle=_simhash_sql(),
)
def q56_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints + equal-fingerprint cluster sizes.

    Token-hash bit votes aggregate map-side (16 conditional sums — a
    partial-aggregatable groupBy, no arrays held per group); identical
    fingerprints mark near-dup families. Hamming-ball expansion would
    add a band join like q55; equality buckets are the exact-match tier.
    """
    docs = load(spark, sf_dir, "documents")
    tokh = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select("doc_id", _h32_expr(F.col("tok")).alias("h"))
    bit_sums = [
        F.sum((F.shiftright("h", j).bitwiseAND(F.lit(1))) * 2 - 1).alias(f"s{j}")
        for j in range(_SIMHASH_BITS)
    ]
    bits = tokh.groupBy("doc_id").agg(*bit_sums)
    simhash = sum(
        [F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(_SIMHASH_BITS)],
        F.lit(0),
    )
    sh = bits.select("doc_id", simhash.alias("simhash"))
    clusters = sh.groupBy("simhash").agg(F.count(F.lit(1)).alias("n_cluster"))
    return sh.join(clusters, "simhash").select("doc_id", "simhash", "n_cluster")


# --------------------------------------------------------------------------
# q57 — blocked n-gram Jaccard


@register(
    "q85_ngram_jaccard",
    tags=("datapipe", "dedup", "jaccard"),
    oracle=f"""
WITH g_all AS (
  SELECT doc_id, lang, size_block,
         list_distinct(list_transform(generate_series(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i + 1])) AS grams
  -- split once per row (the round-11 q09 lesson)
  FROM (SELECT doc_id, lang, n_chars // 100 AS size_block,
               string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 2
),
g AS (
  -- degenerate-block guard: same deterministic lowest-doc_id cap as the
  -- Spark side (neardup._BUCKET_CAP) — a hot (lang, size_block) cell
  -- must not go quadratic
  SELECT doc_id, lang, size_block, grams FROM (
    SELECT doc_id, lang, size_block, grams,
           row_number() OVER (PARTITION BY lang, size_block ORDER BY doc_id) AS rn
    FROM g_all
  ) WHERE rn <= {_BUCKET_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS n_common,
       CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
         / (len(a.grams) + len(b.grams) - len(list_filter(a.grams, x -> list_contains(b.grams, x)))) AS jaccard
FROM g a
JOIN g b ON a.lang = b.lang AND a.size_block = b.size_block AND a.doc_id < b.doc_id
WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
        / (len(a.grams) + len(b.grams) - len(list_filter(a.grams, x -> list_contains(b.grams, x)))) >= 0.2
""",
)
def q85_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-2-gram Jaccard over blocked candidate pairs.

    Blocking on (lang, n_chars/100) bounds the self-join: only
    same-language, similar-length docs are compared — the standard
    budget control that keeps pairwise similarity feasible at scale.
    Block sizes are data-dependent, so each block is additionally capped
    to its ``_BUCKET_CAP`` lowest-doc_id members before pair expansion
    (rank-filter → map-side WindowGroupLimit, the same degenerate-bucket
    guard as q55/q58): a boilerplate-heavy (lang, size) cell costs at
    most C(cap, 2) pairs instead of C(n, 2).
    |A∪B| is |A|+|B|−|A∩B| over distinct gram sets.

    Plan shape (the q06 member-array pattern, replacing an earlier
    equi-self-join): the capped blocks collect into one member-array row
    per (lang, size_block) — reusing the window's hash partitioning, so
    no second shuffle of the gram sets — then an explicit-width
    round-robin repartition spreads the block rows before in-row pair
    expansion. A self-join here would re-shuffle both sides onto the
    same few block keys and AQE's byte-based coalescing would serialize
    the O(cap^2) ``array_intersect`` scoring into one task; the
    member-array form does strictly less shuffling and keeps the
    compute-dense stage at full width.
    """
    from ..session import default_parallelism

    docs = load(spark, sf_dir, "documents")
    # toks materializes ONCE behind a projection boundary (the q55
    # lesson: inlining the split makes every element_at re-split the
    # text — O(tokens^2) interpreted string work), and the up-front
    # round-robin spread keeps the gram build at full width even when
    # the input is a handful of parquet row groups.
    t = (
        docs.repartition(default_parallelism())
        .select(
            "doc_id",
            "lang",
            (F.col("n_chars") / 100).cast("long").alias("size_block"),
            F.split("text", " ").alias("toks"),
        )
        .filter(F.size("toks") >= 2)
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(" ", F.element_at("toks", i), F.element_at("toks", i + 1)),
        )
    )
    wblock = W.partitionBy("lang", "size_block").orderBy("doc_id")
    g = (
        t.select("doc_id", "lang", "size_block", grams.alias("grams"))
        .withColumn("_rn", F.row_number().over(wblock))
        .filter(F.col("_rn") <= _BUCKET_CAP)
        .drop("_rn")
    )
    members = (
        g.groupBy("lang", "size_block")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "grams"))).alias("ms"))
        .filter(F.size("ms") > 1)
        .repartition(default_parallelism())
    )
    pair_arr = in_array_pairs(
        "ms",
        lambda a, b: F.struct(
            a["doc_id"].alias("doc_a"),
            b["doc_id"].alias("doc_b"),
            a["grams"].alias("ga"),
            b["grams"].alias("gb"),
        ),
    )
    pairs = members.select(F.explode(pair_arr).alias("p"))
    n_common = F.size(F.array_intersect("p.ga", "p.gb"))
    jaccard = n_common.cast("double") / (
        F.size("p.ga") + F.size("p.gb") - n_common
    )
    return pairs.select(
        F.col("p.doc_a").alias("doc_a"),
        F.col("p.doc_b").alias("doc_b"),
        n_common.alias("n_common"),
        jaccard.alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.2)


# --------------------------------------------------------------------------
# q58 — LSH-bucketed ANN (the scale path next to q04's brute force)

_PLANES = 8


def _bucket_sql(src_filter: str, id_alias: str, nplanes: int = _PLANES) -> str:
    """Per-vector LSH bucket: sign bits of md5-derived ±1 hyperplanes."""
    bit_exprs = []
    for j in range(nplanes):
        plane_hash = _SQL_H32.format(e="'%d:' || CAST(pos AS VARCHAR)" % j)
        bit_exprs.append(
            "CAST(sum(CAST(round(x, 9) * "
            f"(({plane_hash}) % 2 * 2 - 1) "
            f"AS DECIMAL(28,12))) AS DOUBLE) > 0 AS b{j}"
        )
    bits = ",\n         ".join(bit_exprs)
    code = " + ".join(f"(CASE WHEN b{j} THEN {1 << j} ELSE 0 END)" for j in range(nplanes))
    return f"""
  SELECT {id_alias}, {code} AS bucket FROM (
    SELECT {id_alias},
         {bits}
    FROM (
      SELECT vec_id AS {id_alias}, i - 1 AS pos, CAST(emb[i] AS DOUBLE) AS x
      FROM (SELECT vec_id, embedding AS emb,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM {SQL_EMB_SRC} {src_filter})
    ) GROUP BY {id_alias}
  )
"""


@register(
    "q86_ann_lsh",
    tags=("datapipe", "similarity", "lsh"),
    oracle=f"""
WITH pb AS ({_bucket_sql("WHERE vec_id < 3", "probe_id")}),
cb_all AS ({_bucket_sql("", "cand_id")}),
cb AS (
  -- degenerate-bucket guard: cap candidates per cell, lowest-id keep
  -- (mirrors the Spark side's neardup._BUCKET_CAP rank filter)
  SELECT cand_id, bucket FROM (
    SELECT cand_id, bucket,
           row_number() OVER (PARTITION BY bucket ORDER BY cand_id) AS rn
    FROM cb_all
  ) WHERE rn <= {_BUCKET_CAP}
),
cand_pairs AS (
  SELECT pb.probe_id, cb.cand_id, pb.bucket
  FROM pb JOIN cb ON pb.bucket = cb.bucket AND pb.probe_id <> cb.cand_id
),
elems AS (
  SELECT vec_id, i - 1 AS pos, CAST(emb[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding AS emb,
               unnest(generate_series(1, len(embedding))) AS i FROM {SQL_EMB_SRC})
),
dots AS (
  SELECT cp.probe_id, cp.cand_id, cp.bucket,
         CAST(sum(CAST(p.x * c.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
  FROM cand_pairs cp
  JOIN elems p ON p.vec_id = cp.probe_id
  JOIN elems c ON c.vec_id = cp.cand_id AND c.pos = p.pos
  GROUP BY cp.probe_id, cp.cand_id, cp.bucket
),
norms AS (
  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
  FROM elems GROUP BY vec_id
)
SELECT probe_id, cand_id, bucket, round(cosine, 9) AS cosine, rank FROM (
  SELECT d.probe_id, d.cand_id, d.bucket,
         d.dot / (np.nrm * nc.nrm) AS cosine,
         row_number() OVER (PARTITION BY d.probe_id
                            ORDER BY d.dot / (np.nrm * nc.nrm) DESC, d.cand_id) AS rank
  FROM dots d
  JOIN norms np ON np.vec_id = d.probe_id
  JOIN norms nc ON nc.vec_id = d.cand_id
) WHERE rank <= 5
""",
)
def q86_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbours.

    Random-hyperplane signs (±1 weights derived from md5(plane:dim) —
    reproducible, no RNG) bucket every vector into one of 2^8 cells;
    probes only score candidates in THEIR cell, capped at _BUCKET_CAP
    per cell (lowest-id keep). At 100 TB the exact
    cosine join touches ~1/256 of the corpus per probe instead of all
    of it; recall grows with multi-probe or more tables, cost with
    plane count — the standard ANN trade.
    """
    from ..session import default_parallelism

    # Round-14 restatement (guide §2.3/§2.4, the q06/q25 in-array
    # idiom): buckets and dot products run IN-ROW over the embedding
    # array instead of position-exploding the corpus. The old plan
    # exploded `elems` FOUR times (probe buckets, candidate buckets,
    # and both sides of a position-equality scoring join) and paid a
    # corpus-sized groupBy(vec_id) exchange of dim-exploded rows just
    # to re-assemble what each row already held. Same md5 count (8
    # planes × dim per vector, map-side either way); per-term decimal
    # expressions are unchanged (dec12 terms = the oracle's
    # CAST(.. AS DECIMAL(28,12)) addends; decimal sums are exact and
    # order-free), so every cosine bit matches the exploded oracle.
    emb = finite_embeddings(load(spark, sf_dir, "embeddings")).repartition(
        default_parallelism()
    )

    def row_bucket() -> F.Column:
        # (x, pos) pairs as the HOF input — one zip_with subtree PER
        # PLANE (each of the 8 dfold12 expressions below instantiates
        # its own copy of `pairs`, so the struct-array build runs once
        # per plane per row — constant work, measured fine); every
        # expression inside the lambdas binds lambda variables only
        # (the round-11 HOF rule).
        # EMPTY-ARRAY DEPENDENCE (round-14 advice): sequence(0, -1)
        # DESCENDS for an empty embedding (the round-11 q110 lesson),
        # which would fabricate a [0,-1] pair row where the old
        # posexplode emitted none. Unreachable ONLY because
        # finite_embeddings' nonzero-component exists() screens empty
        # arrays upstream — if that screen is ever relaxed, guard this
        # sequence with F.size > 0.
        pairs = F.zip_with(
            F.col("embedding"),
            F.sequence(F.lit(0), F.size("embedding") - 1),
            lambda x, p: F.struct(x.cast("double").alias("x"), p.alias("pos")),
        )

        def term_fn(j: int):
            # MUST be a one-arg lambda from a closure factory: a
            # `lambda e, _j=j` default-arg binding makes pyspark treat
            # the function as transform's (element, index) binary form
            # and hands `_j` the INDEX lambda variable — the f-string
            # then serializes a Column repr into the hash input.
            return lambda e: dec12(
                F.round(e["x"], 9)
                * (
                    _h32_expr(F.concat_ws("", F.lit(f"{j}:"), e["pos"]))
                    % 2
                    * 2
                    - 1
                )
            )

        code = F.lit(0)
        for j in range(_PLANES):
            bit = dfold12(F.transform(pairs, term_fn(j))) > 0
            code = code + F.when(bit, F.lit(1 << j)).otherwise(F.lit(0))
        return code

    bucketed = emb.select("vec_id", "embedding", row_bucket().alias("bucket"))
    pb = bucketed.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pemb"),
        "bucket",
    )
    # Degenerate-bucket guard: cap candidates per cell (lowest-id keep,
    # rank filter → map-side WindowGroupLimit) so one boilerplate-heavy
    # cell can't make every probe score millions of candidates. This
    # bucket-keyed exchange is the plan's ONE corpus-sized shuffle; it
    # carries compact (vec_id, embedding, bucket) rows, not the old
    # dim-exploded (vec_id, pos, x) stream.
    wcap = W.partitionBy("bucket").orderBy("cand_id")
    cb = (
        bucketed.select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("cemb"),
            "bucket",
        )
        .withColumn("_rn", F.row_number().over(wcap))
        .filter(F.col("_rn") <= _BUCKET_CAP)
        .drop("_rn")
    )
    # PRECONDITION: fixed-dimension embeddings (q27's dimension check
    # is the screen) — same as every ddot12 consumer (q04/q06/q25/q39).
    scored = (
        cb.join(F.broadcast(pb), "bucket")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select(
            "probe_id",
            "cand_id",
            "bucket",
            (
                ddot12(F.col("pemb"), F.col("cemb"))
                / (dnrm12(F.col("pemb")) * dnrm12(F.col("cemb")))
            ).alias("cosine"),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), "cand_id")),
    )
    return ranked.filter(F.col("rank") <= 5).select(
        "probe_id", "cand_id", "bucket", F.round("cosine", 9).alias("cosine"), "rank"
    )


# --------------------------------------------------------------------------
# q86 — bounded edit-distance verification tier


@register(
    "q101_edit_distance",
    tags=("datapipe", "dedup", "levenshtein"),
    oracle=f"""
WITH {_Q55_CTES},
heads AS (SELECT doc_id, substr(text, 1, 120) AS head FROM documents)
SELECT p.doc_a, p.doc_b,
       levenshtein(a.head, b.head) AS edit_dist,
       round(1.0 - CAST(levenshtein(a.head, b.head) AS DOUBLE)
                   / greatest(len(a.head), len(b.head)), 9) AS similarity
FROM pairs p
JOIN heads a ON a.doc_id = p.doc_a
JOIN heads b ON b.doc_id = p.doc_b
WHERE 1.0 - CAST(levenshtein(a.head, b.head) AS DOUBLE)
            / greatest(len(a.head), len(b.head)) >= 0.3
""",
)
def q101_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification tier over LSH candidates.

    The expensive-but-precise tier composed on top of cheap candidate
    generation: the input pairs ARE q55's MinHash/LSH band candidates
    (``lsh_band_pairs`` — bucketed, degenerate-bucket-capped, never
    all-pairs), so the Levenshtein stage is linear in candidate count by
    construction, not by data-dependent luck. Each pair is scored on a
    fixed 120-char prefix, making per-pair cost a constant at 100 TB.
    Spark and DuckDB implement the identical classic Levenshtein, so the
    distance is cross-engine exact; the oracle recomputes the same LSH
    candidate set via the shared q55 CTE chain.
    """
    docs = load(spark, sf_dir, "documents")
    cand = lsh_band_pairs(_minhash_sigs(docs)).select("doc_a", "doc_b")
    heads = docs.select("doc_id", F.substring("text", 1, 120).alias("head"))
    pairs = cand.join(
        heads.select(F.col("doc_id").alias("doc_a"), F.col("head").alias("head_a")), "doc_a"
    ).join(
        heads.select(F.col("doc_id").alias("doc_b"), F.col("head").alias("head_b")), "doc_b"
    )
    lev = F.levenshtein(F.col("head_a"), F.col("head_b"))
    sim = F.lit(1.0) - lev.cast("double") / F.greatest(
        F.length(F.col("head_a")), F.length(F.col("head_b"))
    )
    return (
        pairs.filter(sim >= 0.3)
        .select(
            "doc_a",
            "doc_b",
            lev.alias("edit_dist"),
            F.round(sim, 9).alias("similarity"),
        )
    )


# --------------------------------------------------------------------------
# q37 — near-dup cluster resolution (connected components over LSH pairs)

_CLUSTER_JACCARD = 0.5  # est_jaccard threshold for a dedup edge

# Iteration backstop for Hash-Min label propagation. Convergence takes
# O(component diameter) rounds; near-dup graphs are dense cliques
# (diameter 1-2), so 30 rounds ≫ anything a real corpus produces. A
# pathological chain graph (diameter > cap) fails LOUD instead of
# spinning the cluster forever or silently emitting half-propagated
# labels.
_CC_MAX_ITERS = 30


def cc_propagate(labels: DataFrame, sym: DataFrame, with_jump: bool) -> DataFrame:
    """ONE Hash-Min iteration's plan: propagate (labels joined to edges,
    min-aggregated, joined back) and — with ``with_jump`` — the pointer
    jump (each label mapped through ITS OWN current label). Returns
    (doc_id, cluster_id, _changed); the caller checkpoints and counts.

    Extracted from the hash_min_components loop body so the plan-shape
    audit (tools/audit_plans.py CC_EXPECTATIONS) gates the EXACT code
    the loop executes: per-iteration cost must stay a bounded number of
    shuffles over the dup-graph, with no corpus scan and no pairwise
    blow-up inside the loop.
    """
    neighbor_min = (
        labels.join(sym, labels["doc_id"] == sym["a"])
        .groupBy(F.col("b").alias("doc_id"))
        .agg(F.min("cluster_id").alias("nbr_min"))
    )
    prop = labels.join(neighbor_min, "doc_id", "left").select(
        "doc_id",
        F.col("cluster_id").alias("_old"),
        F.least("cluster_id", F.coalesce("nbr_min", "cluster_id")).alias("_mid"),
    )
    if with_jump:
        # Near-dup components are usually dense cliques (diameter
        # 1-2) that converge before this branch runs — they never
        # pay the jump's extra self-join shuffle. A graph still
        # unconverged at iteration 3 is deep, and from here the
        # jump doubles the propagated distance per iteration.
        parent = prop.select(
            F.col("doc_id").alias("_pid"), F.col("_mid").alias("_plabel")
        )
        prop = prop.join(parent, prop["_mid"] == parent["_pid"], "left").select(
            "doc_id",
            "_old",
            F.least("_mid", F.coalesce("_plabel", "_mid")).alias("_mid"),
        )
    return (
        prop.select("doc_id", F.col("_mid").alias("cluster_id"), "_old")
        .withColumn("_changed", F.col("cluster_id") < F.col("_old"))
        .drop("_old")
    )


# Edge-count ceiling for the driver-local union-find branch of
# hash_min_components (round-14 verdict #3): keeps the collected
# edge/label lists a few MB — model-state sized, the tokenizer.py
# bounded-collect adjudication — while covering every driver SF's dup
# graph. 0 forces the distributed loop (the parity tests patch it).
_CC_LOCAL_MAX_EDGES = 200_000


def _hash_min_local(labels: DataFrame, edge_rows) -> DataFrame:
    """Driver-local exact solve of the Hash-Min fixpoint for
    sub-threshold graphs: union-find over the collected edges, then
    each vertex's label = min initial label over its component —
    which is precisely the Hash-Min fixpoint (labels only ever
    decrease toward the component-minimum reachable initial label).
    Bit-identical to the distributed loop on ANY initial labels; used
    only below _CC_LOCAL_MAX_EDGES, where the loop's cost is pure
    job-launch latency (2+ jobs of 3 exchanges each for a graph that
    fits in one task). ``labels`` is endpoint-seeded by every caller
    (cc_seed), so the collect is edge-bounded, never corpus-sized."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    init = [(r[0], r[1]) for r in labels.collect()]
    for v, _ in init:
        parent.setdefault(v, v)
    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        union(a, b)
    best: dict = {}
    for v, l0 in init:
        r = find(v)
        if r not in best or l0 < best[r]:
            best[r] = l0
    out = [(v, best.get(find(v), l0)) for v, l0 in init]
    import sys

    print(
        f"[hash_min_components] local union-find over {len(edge_rows)} edges / "
        f"{len(init)} vertices",
        file=sys.stderr,
    )
    return labels.sparkSession.createDataFrame(out, schema=labels.schema)


def hash_min_components(labels: DataFrame, sym: DataFrame, max_iters: int = _CC_MAX_ITERS) -> DataFrame:
    """Hash-Min connected components to fixpoint, bounded at max_iters.

    ``labels`` is (doc_id, cluster_id) seeded with cluster_id = doc_id;
    ``sym`` is the symmetrized edge list (a, b). Each iteration is a
    propagate step (labels joined to edges, min-aggregated), from
    iteration 3 followed by a pointer-jump step (each label mapped
    through ITS OWN current label), then localCheckpoint to cut
    lineage; no driver-side graph state. Propagation alone moves a
    label one hop per iteration, so a transitive near-dup CHAIN deeper
    than max_iters — a legitimate input — would trip the bound; the
    jump compresses label paths so convergence is logarithmic in
    component diameter, the same reason GraphFrames-style CC uses star
    contractions. It is gated to iteration >= 3 because the common
    near-dup component is a dense clique (diameter 1-2) that converges
    before the gate opens and never pays the extra self-join shuffle.
    Labels only ever decrease, and a label always names a vertex
    present in ``labels`` (it is some vertex's id that won a min), so
    the jump's self-join lookup is total. Raises
    RuntimeError if the fixpoint isn't reached within ``max_iters`` —
    wrong labels are worse than a failed job.

    Size-adaptive local branch (round-14 verdict #3): ``sym`` is always
    an eagerly-checkpointed, dup-graph-sized edge list, so a LIMIT
    count over its cached blocks is one cheap job, and the edges are
    collected only when that count is under the threshold. When the whole graph
    fits under _CC_LOCAL_MAX_EDGES, the distributed loop would spend
    its entire wall on per-iteration job launches (3 exchanges + a
    checkpoint per iteration for a graph that fits in one task);
    _hash_min_local solves the identical fixpoint from two bounded
    collects instead. This is a LOCAL-LATENCY branch, not a 100 TB
    semantics fork: above the threshold (any at-scale corpus) the
    distributed plan below runs unchanged, and the local solve is
    bit-identical (component-minimum initial label — the same
    fixpoint; probed by a threshold-forcing parity test in
    tests/test_incremental_clusters.py). The local branch also cannot
    trip the max_iters bound — it computes exact components regardless
    of diameter, strictly extending the loop's domain, while the
    distributed path keeps the fail-loud bound.
    """
    n = _CC_LOCAL_MAX_EDGES
    if n > 0 and sym.limit(n + 1).count() <= n:
        return _hash_min_local(labels, [(r[0], r[1]) for r in sym.collect()])
    for it in range(1, max_iters + 1):
        # Lazy checkpoint: the count action below both materializes the
        # iteration's labels (count needs every partition, so the whole
        # RDD persists) and returns the convergence signal — ONE job
        # per iteration instead of an eager-checkpoint job plus a count
        # job. Same lineage cut, half the job-launch overhead.
        updated = cc_propagate(labels, sym, with_jump=it >= 3).localCheckpoint(
            eager=False
        )
        n_changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            # stderr, never stdout: bench.py's contract is ONE JSON line on
            # stdout, and q37 is in the headline set that bench times.
            import sys

            print(
                f"[hash_min_components] converged after {it} iteration(s)",
                file=sys.stderr,
            )
            return labels
    raise RuntimeError(
        f"hash_min_components: no fixpoint after {max_iters} iterations — "
        "component diameter exceeds the bound; raise max_iters if the "
        "graph is legitimately this deep"
    )


def jaccard_sym_edges(pairs: DataFrame) -> DataFrame:
    """Symmetrized dedup edges (a, b) from LSH candidate pairs:
    estimated jaccard (signature agreement fraction) >= the cluster
    threshold. Shared by dup_edges and the streaming incremental fold
    so the edge rule exists once. `agree` is the precomputed
    agreement count from bucket_pair_expand — the same integer the
    old in-place element count produced."""
    edges = (
        pairs.filter((F.col("agree").cast("double") / _MINHASH_K) >= _CLUSTER_JACCARD)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    return edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))


def dup_edges(docs: DataFrame) -> DataFrame:
    """Symmetrized near-dup edge list (a, b) over the LSH candidate
    pairs, eagerly checkpointed — the loop re-scans EDGES only, never
    the corpus; lineage is cut so iteration N's plan doesn't replay the
    MinHash front half."""
    sym = jaccard_sym_edges(lsh_band_pairs(_minhash_sigs(docs)))
    # freeze: iterations re-scan edges only. Deliberately EAGER, unlike
    # the loop's per-iteration checkpoint: sym feeds TWO subtrees of
    # iteration 1's first job (cc_seed and the propagate join), and a
    # lazy checkpoint would let both paths race to compute the expensive
    # MinHash front before the cached blocks land.
    return sym.localCheckpoint(eager=True)


def cc_seed(sym: DataFrame) -> DataFrame:
    """Seed labels (doc_id, cluster_id = doc_id) over EDGE ENDPOINTS
    ONLY: an isolated vertex has no neighbors, so Hash-Min can never
    move it off its own id — it needs no seat in the loop. At
    production scale this is the difference between shuffling the
    dup-graph (|V_edges| ≈ a few % of docs) per iteration and shuffling
    the whole corpus per iteration; the corpus-sized labels table is
    touched exactly once, by the final join-back. `sym` is symmetric,
    so column `a` alone enumerates all endpoints, and the endpoint
    table derives from the checkpointed edge list — no lineage to cut
    before the loop, and NO corpus scan in the seed plan (gated:
    tools/audit_plans.py CC_EXPECTATIONS)."""
    touched = sym.select(F.col("a").alias("doc_id")).distinct()
    return touched.select("doc_id", F.col("doc_id").alias("cluster_id"))


def cluster_labels(docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id): near-dup connected components over LSH
    candidate pairs — the shared front half of q37/q10. cluster_id is
    the component's minimum doc_id (Hash-Min fixpoint)."""
    sym = dup_edges(docs)
    resolved = hash_min_components(cc_seed(sym), sym)
    return (
        docs.select("doc_id")
        .join(resolved, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
    )


# Shared oracle CTE chain: LSH pairs → edges → transitive closure →
# per-doc min-reachable label (the recursive-CTE cross-check of
# hash_min_components). Used by q37 and q10.
_CC_SQL_CTES = f"""{_Q55_CTES},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  WHERE CAST(len(list_filter(generate_series(1, {_MINHASH_K}), i -> sig_a[i] = sig_b[i])) AS DOUBLE)
          / {_MINHASH_K} >= {_CLUSTER_JACCARD}
),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach AS (
  SELECT doc_id, doc_id AS r FROM documents
  UNION
  SELECT reach.doc_id, sym.b AS r FROM reach JOIN sym ON sym.a = reach.r
),
labeled AS (
  SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
)"""


@register(
    "q37_neardup_clusters",
    headline=True,
    tags=("datapipe", "dedup", "clustering"),
    oracle=f"""
WITH RECURSIVE {_CC_SQL_CTES}
SELECT l.doc_id, l.cluster_id,
       CAST(count(*) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS cluster_size,
       l.doc_id = l.cluster_id AS is_representative
FROM labeled l
""",
)
def q37_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster resolution: LSH candidate pairs → connected
    components → per-doc cluster id (min doc_id in component) +
    keep/drop decision (representative = lowest id).

    This is the step that turns pairwise near-dup evidence into actual
    dedup decisions. Components are computed with Hash-Min label
    propagation — each iteration is one shuffle (labels joined to the
    symmetrized edge list, min-aggregated), iterated to fixpoint with
    localCheckpoint to cut lineage. Iteration count is the component
    diameter, which for near-dup graphs is tiny (boilerplate families
    are dense cliques, diameter ≈ 1-2); at 100 TB this is the standard
    distributed CC formulation (edges never leave their hash
    partitions; no driver-side graph). The DuckDB oracle computes the
    same components independently via a recursive transitive-closure
    CTE, so the two algorithms cross-check.
    """
    docs = load(spark, sf_dir, "documents")
    # Round-14 optimization (guide §2.4): the cluster_size window runs
    # over the EDGE-ENDPOINT label frame and rides the existing doc_id
    # join back, instead of a corpus-wide count() window partitioned by
    # cluster_id (which paid a full-corpus exchange + sort as the last
    # stage). This is exact: `resolved` seats precisely the dup-graph
    # endpoints (cc_seed), every member of a multi-doc component IS an
    # endpoint, and a non-endpoint doc's label is its own id — which no
    # component minimum can collide with (a component's min is the id
    # of one of its endpoint members) — so endpoint-side counts are the
    # window's counts and every unlabeled doc is a singleton (size 1).
    # At 100 TB the dup graph is a few % of the corpus: the windowed
    # exchange is endpoint-sized, and the corpus-sized exchange this
    # removes never comes back. (A groupBy+join-back variant was ALSO
    # tried and measured WORSE at sf0.1 — the extra join tier's stage
    # latency exceeded the window it replaced; the endpoint window
    # keeps the stage count of the old shape.) 2.76s -> 2.48s bench at
    # sf0.1; rows bit-identical (oracle-checked at three SFs).
    sym = dup_edges(docs)
    resolved = hash_min_components(cc_seed(sym), sym)
    rs = resolved.withColumn(
        "_sz", F.count(F.lit(1)).over(W.partitionBy("cluster_id"))
    )
    return (
        docs.select("doc_id")
        .join(rs, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            F.coalesce("_sz", F.lit(1)).cast("bigint").alias("cluster_size"),
            (
                F.col("doc_id") == F.coalesce("cluster_id", "doc_id")
            ).alias("is_representative"),
        )
    )


# --------------------------------------------------------------------------
# q114 — incremental near-dup CLUSTER maintenance: new batch vs history
# labels. The q13/q47/q108 incremental pattern applied to q37: history
# clusters act as contracted super-nodes, Hash-Min re-iterates ONLY over
# the touched frontier (batch docs + the history clusters their edges
# reach), and unconnected history clusters never enter the loop.

# The q13 split convention (doc_id % 10 < 8 -> already-ingested history,
# else "today's batch") — shared with q47/q108 so the incremental tiers
# model one consistent ingestion story.
_INC_HIST_MOD = 10
_INC_HIST_CUT = 8


def _inc_is_hist(c: F.Column) -> F.Column:
    return (c % _INC_HIST_MOD) < _INC_HIST_CUT


def incremental_frontier(sym: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the symmetrized union dup-graph into (hist_sym, frontier).

    hist_sym (both endpoints history) is the graph whose components a
    production pipeline has ALREADY resolved and stored; frontier
    (>= 1 batch endpoint) is every edge the new batch introduces. Any
    path between two distinct history clusters in the union graph must
    cross a frontier edge — a history-history edge lies inside one
    history component by definition — which is what makes contraction
    exact (see contract_frontier). Both frames are filters over the
    eagerly-checkpointed edge list, so neither re-runs the MinHash
    front."""
    both_hist = _inc_is_hist(F.col("a")) & _inc_is_hist(F.col("b"))
    return sym.filter(both_hist), sym.filter(~both_hist)


def contract_frontier(frontier: DataFrame, hist_labels: DataFrame) -> DataFrame:
    """Contract frontier edges through the history labels: each history
    endpoint is replaced by its history cluster id (its own id when it
    was isolated in the history graph — cc_seed only seats edge
    endpoints), batch endpoints keep their ids. Self-loops drop,
    duplicates collapse. The result is the SUPER-NODE graph the merge
    loop iterates on: its vertex set is batch docs plus touched history
    clusters — frontier-sized, never corpus-sized, and at production
    scale orders of magnitude below the full dup-graph.

    A history cluster id is the MIN doc_id of its history component, so
    Hash-Min's min over contracted node ids equals the min over all
    member doc_ids of the union component — incremental labels are
    bit-identical to a full re-run (parity-tested both on synthetic
    graphs and end-to-end in tests/test_incremental_clusters.py).

    Eagerly checkpointed for the same reason dup_edges is: the merge
    loop's iteration 1 fans two subtrees off this frame (cc_seed and
    the propagate join), and a lazy cut would race both into the
    contraction joins."""
    return _contracted_edges(frontier, hist_labels).localCheckpoint(eager=True)


def _contracted_edges(frontier: DataFrame, hist_labels: DataFrame) -> DataFrame:
    """The contraction plan itself, un-checkpointed — separated so the
    plan audit (tools/audit_plans.py cc:contract) gates the exact joins
    contract_frontier executes: label lookups over the checkpointed
    edge/label frames only, never a corpus scan."""
    la = hist_labels.select(F.col("doc_id").alias("a"), F.col("cluster_id").alias("_la"))
    lb = hist_labels.select(F.col("doc_id").alias("b"), F.col("cluster_id").alias("_lb"))
    return (
        frontier.join(la, "a", "left")
        .join(lb, "b", "left")
        .select(
            F.coalesce("_la", "a").alias("a"),
            F.coalesce("_lb", "b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


@register(
    "q114_incremental_clusters",
    tags=("datapipe", "dedup", "clustering", "incremental"),
    oracle=f"""
WITH RECURSIVE {_CC_SQL_CTES},
hsym AS (
  SELECT a, b FROM sym
  WHERE a % {_INC_HIST_MOD} < {_INC_HIST_CUT}
    AND b % {_INC_HIST_MOD} < {_INC_HIST_CUT}
),
hreach AS (
  SELECT doc_id, doc_id AS r FROM documents
  WHERE doc_id % {_INC_HIST_MOD} < {_INC_HIST_CUT}
  UNION
  SELECT hreach.doc_id, hsym.b AS r FROM hreach JOIN hsym ON hsym.a = hreach.r
),
hlabeled AS (
  SELECT doc_id, min(r) AS hist_cluster FROM hreach GROUP BY doc_id
)
SELECT l.doc_id, l.cluster_id,
       l.doc_id % {_INC_HIST_MOD} >= {_INC_HIST_CUT} AS is_batch,
       coalesce(l.doc_id % {_INC_HIST_MOD} < {_INC_HIST_CUT}
                AND l.cluster_id <> h.hist_cluster, FALSE) AS relabeled
FROM labeled l LEFT JOIN hlabeled h ON h.doc_id = l.doc_id
""",
)
def q114_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup cluster maintenance: the day's batch
    (doc_id % 10 >= 8, the q13 ingestion split) is folded into the
    already-resolved history clustering without re-clustering history.

    Three phases, all over the ONE eagerly-checkpointed union edge
    list: (1) history labels — Hash-Min over history-history edges
    (the stored state a production pipeline reads back instead of
    recomputing; here derived in-plan so the query is self-contained,
    exactly like q13 derives its history fingerprints); (2) frontier
    contraction — every new edge's history endpoints collapse to their
    cluster ids; (3) Hash-Min over the CONTRACTED frontier graph only.
    History clusters no batch edge touches never enter phase 3 — at a
    daily-crawl scale that is the difference between iterating shuffles
    over the full corpus dup-graph and over the new batch's
    neighborhood. Labels are bit-identical to a full q37 re-run
    (contraction of a subgraph's components preserves the union graph's
    components; min-label algebra in contract_frontier's docstring).

    Output: every doc's incremental cluster id, its batch/history side,
    and — the operational payoff — `relabeled`: history docs whose
    cluster id changed because the batch bridged their cluster to a
    lower-id component (the merge events a downstream canonical-corpus
    table must replay). The DuckDB oracle resolves BOTH clusterings
    independently via recursive transitive-closure CTEs.
    """
    docs = load(spark, sf_dir, "documents")
    sym = dup_edges(docs)
    hist_sym, frontier = incremental_frontier(sym)
    hist_labels = hash_min_components(cc_seed(hist_sym), hist_sym)
    contracted = contract_frontier(frontier, hist_labels)
    merged = hash_min_components(cc_seed(contracted), contracted)
    base = docs.select("doc_id", _inc_is_hist(F.col("doc_id")).alias("is_hist"))
    # batch ids never appear in hist_labels, so the coalesce sends a
    # history doc to its history cluster and a batch doc to itself
    noded = base.join(hist_labels, "doc_id", "left").select(
        "doc_id", "is_hist", F.coalesce("cluster_id", "doc_id").alias("node")
    )
    m = merged.select(F.col("doc_id").alias("node"), F.col("cluster_id").alias("_m"))
    final = F.coalesce("_m", "node")
    return noded.join(m, "node", "left").select(
        "doc_id",
        final.alias("cluster_id"),
        (~F.col("is_hist")).alias("is_batch"),
        (F.col("is_hist") & (final != F.col("node"))).alias("relabeled"),
    )


@register(
    "q116_incremental_canonical",
    tags=("datapipe", "dedup", "clustering", "incremental", "quality"),
    oracle=f"""
WITH RECURSIVE {_CC_SQL_CTES},
hsym AS (
  SELECT a, b FROM sym
  WHERE a % {_INC_HIST_MOD} < {_INC_HIST_CUT}
    AND b % {_INC_HIST_MOD} < {_INC_HIST_CUT}
),
hreach AS (
  SELECT doc_id, doc_id AS r FROM documents
  WHERE doc_id % {_INC_HIST_MOD} < {_INC_HIST_CUT}
  UNION
  SELECT hreach.doc_id, hsym.b AS r FROM hreach JOIN hsym ON hsym.a = hreach.r
),
hlabeled AS (
  SELECT doc_id, min(r) AS hist_cluster FROM hreach GROUP BY doc_id
),
feat AS (
  SELECT doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS uniq_ratio
  FROM documents
),
members AS (
  SELECT l.doc_id, l.cluster_id,
         l.doc_id % {_INC_HIST_MOD} < {_INC_HIST_CUT} AS is_hist,
         h.hist_cluster
  FROM labeled l LEFT JOIN hlabeled h USING (doc_id)
),
touched AS (
  SELECT cluster_id FROM members
  GROUP BY cluster_id
  HAVING max(CASE WHEN NOT is_hist THEN 1 ELSE 0 END) = 1
),
tm AS (
  SELECT m.*, f.uniq_ratio FROM members m
  JOIN touched USING (cluster_id)
  LEFT JOIN feat f USING (doc_id)
),
canon AS (
  SELECT cluster_id,
         max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(CASE WHEN NOT is_hist THEN 1 ELSE 0 END) AS BIGINT)
           AS n_batch_members,
         CAST(count(DISTINCT CASE WHEN is_hist THEN hist_cluster END)
              AS BIGINT) AS n_hist_clusters,
         -- the PRIMARY absorbed history cluster: min id among absorbed
         -- (NOT the surviving union id, which can be a batch doc id)
         min(CASE WHEN is_hist THEN hist_cluster END) AS prev_cluster
  FROM (
    SELECT cluster_id, doc_id, is_hist, hist_cluster,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY uniq_ratio DESC, doc_id) AS rn
    FROM tm
  )
  GROUP BY cluster_id
),
prev AS (
  SELECT hist_cluster,
         max(CASE WHEN prn = 1 THEN doc_id END) AS prev_canonical
  FROM (
    SELECT hist_cluster, doc_id,
           row_number() OVER (PARTITION BY hist_cluster
                              ORDER BY uniq_ratio DESC, doc_id) AS prn
    FROM tm WHERE is_hist
  )
  GROUP BY hist_cluster
)
SELECT c.cluster_id, c.canonical_doc,
       p.prev_canonical,
       c.n_members, c.n_batch_members, c.n_hist_clusters,
       coalesce(c.canonical_doc <> p.prev_canonical, TRUE) AS canonical_changed
FROM canon c LEFT JOIN prev p ON p.hist_cluster = c.prev_cluster
""",
)
def q116_incremental_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-replay report downstream of q114: for every cluster the
    incoming batch TOUCHES, the new quality-winner canonical document
    (q10's selection rule — highest lexical diversity, doc_id
    tie-break), the previously-stored canonical it supersedes (the
    PRIMARY absorbed history cluster's winner — min cluster id among
    absorbed, which is NOT always the surviving union id: a batch doc
    can win the min; NULL only for pure-batch clusters), member/batch/
    absorbed-cluster counts, and
    whether the canonical actually changed. Untouched clusters never
    appear — this IS the delta a production canonical-corpus table
    applies after each ingestion round, and every history cluster that
    merged away is accounted for in n_hist_clusters (> 1 = merge
    event).

    Scale shape: the q114 incremental pieces resolve the labels (the
    merge loop sees only the contracted frontier); the touched-cluster
    set is batch-neighborhood-sized and semi-joins the members BEFORE
    the quality join, so both ranking windows run over touched,
    LSH-cap-bounded clusters only — never the corpus.
    """
    from .datapipe import quality_features

    docs = load(spark, sf_dir, "documents")
    sym = dup_edges(docs)
    hist_sym, frontier = incremental_frontier(sym)
    hist_labels = hash_min_components(cc_seed(hist_sym), hist_sym)
    contracted = contract_frontier(frontier, hist_labels)
    merged = hash_min_components(cc_seed(contracted), contracted)
    base = docs.select("doc_id", _inc_is_hist(F.col("doc_id")).alias("is_hist"))
    noded = base.join(hist_labels, "doc_id", "left").select(
        "doc_id",
        "is_hist",
        # hist doc → its history cluster; batch doc → itself (batch ids
        # never appear in hist_labels). ALSO the doc's hist_cluster when
        # is_hist (the node IS the stored cluster id for history docs).
        F.coalesce("cluster_id", "doc_id").alias("node"),
    )
    from ..session import persist_tracked

    m = merged.select(F.col("doc_id").alias("node"), F.col("cluster_id").alias("_m"))
    # persist: members feeds the touched-set aggregate AND the member
    # join; tm feeds BOTH ranking windows — uncached, each consumer
    # re-runs its whole subtree (4 corpus scans; the plan gate caught
    # it). members is the compact-int-columns class of cache (the q111
    # id+hash precedent); tm is touched-neighborhood-sized.
    members = persist_tracked(
        noded.join(m, "node", "left").select(
            "doc_id",
            "is_hist",
            F.col("node").alias("hist_cluster"),
            F.coalesce("_m", "node").alias("cluster_id"),
        )
    )
    touched = (
        members.groupBy("cluster_id")
        .agg(F.max((~F.col("is_hist")).cast("int")).alias("_ab"))
        .filter(F.col("_ab") == 1)
        .select("cluster_id")
    )
    feat = quality_features(docs).select("doc_id", "uniq_ratio")
    tm = persist_tracked(members.join(touched, "cluster_id").join(feat, "doc_id", "left"))
    rn = F.row_number().over(
        W.partitionBy("cluster_id").orderBy(F.col("uniq_ratio").desc(), "doc_id")
    )
    canon = (
        tm.withColumn("rn", rn)
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_members"),
            F.sum((~F.col("is_hist")).cast("int")).cast("bigint").alias("n_batch_members"),
            F.count_distinct(
                F.when(F.col("is_hist"), F.col("hist_cluster"))
            ).cast("bigint").alias("n_hist_clusters"),
            # the PRIMARY absorbed history cluster (min id among
            # absorbed) — joining prev on the surviving union id
            # instead silently dropped the superseded canonical
            # whenever a BATCH doc won the min (review finding,
            # regression-pinned in tests/test_incremental_canonical.py)
            F.min(F.when(F.col("is_hist"), F.col("hist_cluster"))).alias(
                "prev_cluster"
            ),
        )
    )
    prn = F.row_number().over(
        W.partitionBy("hist_cluster").orderBy(F.col("uniq_ratio").desc(), "doc_id")
    )
    prev = (
        tm.filter(F.col("is_hist"))
        .withColumn("prn", prn)
        .groupBy(F.col("hist_cluster"))
        .agg(F.max(F.when(F.col("prn") == 1, F.col("doc_id"))).alias("prev_canonical"))
    )
    return canon.join(
        prev, canon.prev_cluster == prev.hist_cluster, "left"
    ).select(
        "cluster_id",
        "canonical_doc",
        "prev_canonical",
        "n_members",
        "n_batch_members",
        "n_hist_clusters",
        F.coalesce(
            F.col("canonical_doc") != F.col("prev_canonical"), F.lit(True)
        ).alias("canonical_changed"),
    )


def lsh_verified_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_agree, exact_j): every LSH candidate pair with
    its signature agreement AND its exact distinct-3-gram jaccard —
    the verify pass, shared by the q117 calibration audit and the q118
    source matrix so the verify recipe exists once. The shingle build
    is in-array (zip_with over shifted slices — the round-11 HOF rule:
    an indexed lambda would re-split the text per gram)."""
    toks = F.split("text", " ")
    base = docs.filter(F.size(toks) >= 3).select("doc_id", toks.alias("t"))
    glen = F.size("t") - F.lit(2)
    s1, s2, s3 = (F.slice("t", k, glen) for k in (1, 2, 3))
    grams = F.zip_with(
        F.zip_with(s1, s2, lambda a, b: F.concat(a, F.lit(" "), b)),
        s3,
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    sh = base.select("doc_id", F.array_distinct(grams).alias("sh"))
    pairs = lsh_band_pairs(_minhash_sigs(docs))
    return (
        pairs.select("doc_a", "doc_b", F.col("agree").alias("n_agree"))
        .join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            (
                F.size(F.array_intersect("sha", "shb")).cast("double")
                / F.size(F.array_union("sha", "shb"))
            ).alias("exact_j"),
        )
    )


# Shared verify-pass oracle CTEs: q55's pair chain + distinct shingle
# sets + the exact-jaccard join. Used by q117 and q118.
_VERIFY_SQL_CTES = f"""{_Q55_CTES},
shs AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - 2),
                       i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
  FROM tok WHERE len(t) >= 3
),
verified AS (
  SELECT p.doc_a, p.doc_b,
         len(list_filter(generate_series(1, {_MINHASH_K}),
                         i -> p.sig_a[i] = p.sig_b[i])) AS n_agree,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(a.sh || b.sh)) AS exact_j
  FROM pairs p
  JOIN shs a ON a.doc_id = p.doc_a
  JOIN shs b ON b.doc_id = p.doc_b
)"""


# --------------------------------------------------------------------------
# q117 — MinHash estimator audit: the LSH-then-verify pass. Every
# candidate pair gets the EXACT distinct-shingle jaccard, grouped by
# the signature-agreement estimate — the calibration curve an operator
# reads before trusting the _CLUSTER_JACCARD threshold at lake scale,
# plus the false-flag count the threshold would admit.


@register(
    "q117_lsh_estimator_audit",
    tags=("datapipe", "dedup", "evaluation"),
    oracle=f"""
WITH {_VERIFY_SQL_CTES}
SELECT CAST(n_agree AS BIGINT) AS n_agree,
       CAST(n_agree AS DOUBLE) / {_MINHASH_K} AS est_jaccard,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(exact_j AS DECIMAL(28,12))) AS DOUBLE) / count(*)
         AS mean_exact,
       CAST(sum(CASE WHEN exact_j >= {_CLUSTER_JACCARD} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_dups,
       CAST(sum(CASE WHEN CAST(n_agree AS DOUBLE) / {_MINHASH_K}
                          >= {_CLUSTER_JACCARD}
                      AND exact_j < {_CLUSTER_JACCARD}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_flags
FROM verified GROUP BY verified.n_agree
""",
)
def q117_lsh_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the MinHash estimator: every LSH candidate
    pair is verified against its EXACT distinct-3-gram jaccard
    (in-array intersect/union of the two shingle sets — the standard
    LSH-then-verify pass), grouped by signature agreement. Per
    agreement level: pair count, mean exact jaccard (the calibration
    curve — should track est_jaccard), how many pairs are exact dups
    at the cluster threshold, and how many the estimate would FALSELY
    flag (est >= threshold, exact below) — the precision cost q37/q10
    inherit from trusting the estimate.

    Scale shape: candidate pairs are band-bucket-bounded (the audited
    tier's own guarantee); the verify join brings each endpoint's
    distinct shingle array to its pairs — the same doc-keyed join any
    verify stage pays, with the shingle build map-only (zip_with over
    shifted slices, distinct in-array). Join strategy deliberately
    ungated: pairs x shingle-arrays is corpus-sized on the array side
    at 100 TB and an SMJ there is the plan you want. The shingle rule
    is q55's verbatim, so the audit measures the production recipe.
    """
    docs = load(spark, sf_dir, "documents")
    verified = lsh_verified_pairs(docs)
    est = F.col("n_agree").cast("double") / _MINHASH_K
    thresh = F.lit(_CLUSTER_JACCARD)
    return verified.groupBy(F.col("n_agree").cast("bigint").alias("n_agree")).agg(
        F.any_value(est).alias("est_jaccard"),
        F.count(F.lit(1)).alias("n_pairs"),
        (F.sum(F.col("exact_j").cast(DEC12)).cast("double") / F.count(F.lit(1))).alias(
            "mean_exact"
        ),
        F.sum(F.when(F.col("exact_j") >= thresh, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_dups"),
        F.sum(F.when((est >= thresh) & (F.col("exact_j") < thresh), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_flags"),
    )


@register(
    "q118_source_dup_matrix",
    tags=("datapipe", "dedup", "evaluation"),
    oracle=f"""
WITH {_VERIFY_SQL_CTES},
vsrc AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         CASE WHEN da.source <> db.source THEN 1 ELSE 0 END AS is_cross,
         exact_j
  FROM verified v
  JOIN documents da ON da.doc_id = v.doc_a
  JOIN documents db ON db.doc_id = v.doc_b
  WHERE exact_j >= {_CLUSTER_JACCARD}
)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_dup_pairs,
       CAST(sum(CAST(exact_j AS DECIMAL(28,12))) AS DOUBLE) / count(*)
         AS mean_exact,
       CAST(max(is_cross) = 1 AS BOOLEAN) AS cross_source
FROM vsrc GROUP BY source_a, source_b
""",
)
def q118_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source duplication matrix: VERIFIED near-dup pairs (exact
    jaccard at the cluster threshold, not the estimate — the q117
    verify pass) rolled up by normalized source pair. The diagonal is
    within-source boilerplate; off-diagonal cells are mirror/syndication
    relationships between sources — the diagnostic that tells a
    curation operator which feeds to cap or drop before dedup even
    runs. Reuses lsh_verified_pairs so the verify recipe exists once;
    the source lookup is two doc-keyed joins of the (bounded) verified
    pair table against the corpus, then a source-pair-cardinality
    aggregate — nothing here grows faster than the dup-pair count."""
    docs = load(spark, sf_dir, "documents")
    v = lsh_verified_pairs(docs).filter(F.col("exact_j") >= _CLUSTER_JACCARD)
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb"))
    vsrc = (
        v.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            (F.col("_sa") != F.col("_sb")).cast("int").alias("is_cross"),
            "exact_j",
        )
    )
    return vsrc.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        (F.sum(F.col("exact_j").cast(DEC12)).cast("double") / F.count(F.lit(1))).alias(
            "mean_exact"
        ),
        (F.max("is_cross") == 1).alias("cross_source"),
    )


# --------------------------------------------------------------------------
# q39 — IVF ANN: inverted-file index with deterministic seed centroids

_IVF_SEED_STEP = 37  # every 37th vector is a seed CANDIDATE (no RNG/k-means);
#                      only the _IVF_MAX_CENTROIDS lowest-id ones seed cells
_IVF_NPROBE = 2  # cells searched per probe
# FIXED centroid budget: an index whose cell count tracks the corpus is
# not an inverted file — the assignment cross join would grow
# quadratically with N (measured 32x wall time at a 10x corpus before
# this cap). Real IVF picks k up front; here the k lowest-id seeds,
# deterministic and oracle-mirrored. Both driver scale factors sit
# below the cap, so results are unchanged where attested.
_IVF_MAX_CENTROIDS = 64


@register(
    "q39_ann_ivf",
    tags=("datapipe", "similarity", "ivf"),
    oracle=f"""
WITH elems AS (
  SELECT vec_id, i - 1 AS pos, CAST(emb[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding AS emb,
               unnest(generate_series(1, len(embedding))) AS i FROM {SQL_EMB_SRC})
),
norms AS (
  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
  FROM elems GROUP BY vec_id
),
seeds AS (SELECT vec_id FROM {SQL_EMB_SRC} WHERE vec_id % {_IVF_SEED_STEP} = 0
          ORDER BY vec_id LIMIT {_IVF_MAX_CENTROIDS}),
cent AS (SELECT e.vec_id AS cent_id, pos, x FROM elems e
         JOIN seeds s ON s.vec_id = e.vec_id),
vc AS (
  SELECT e.vec_id, c.cent_id,
         CAST(sum(CAST(e.x * c.x AS DECIMAL(28,12))) AS DOUBLE)
           / (nv.nrm * nc.nrm) AS cos
  FROM elems e
  JOIN cent c ON c.pos = e.pos
  JOIN norms nv ON nv.vec_id = e.vec_id
  JOIN norms nc ON nc.vec_id = c.cent_id
  GROUP BY e.vec_id, c.cent_id, nv.nrm, nc.nrm
),
ranked_cells AS (
  SELECT vec_id, cent_id, row_number() OVER (
           PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS cell_rank
  FROM vc
),
assign AS (SELECT vec_id, cent_id AS cell_id FROM ranked_cells WHERE cell_rank = 1),
probe_cells AS (
  SELECT vec_id AS probe_id, cent_id AS cell_id FROM ranked_cells
  WHERE vec_id < 3 AND cell_rank <= {_IVF_NPROBE}
),
cand AS (
  SELECT pc.probe_id, a.vec_id AS cand_id, pc.cell_id
  FROM probe_cells pc JOIN assign a ON a.cell_id = pc.cell_id
  WHERE a.vec_id <> pc.probe_id
),
dots AS (
  SELECT cd.probe_id, cd.cand_id, cd.cell_id,
         CAST(sum(CAST(p.x * c.x AS DECIMAL(28,12))) AS DOUBLE)
           / (np.nrm * nc.nrm) AS cosine
  FROM cand cd
  JOIN elems p ON p.vec_id = cd.probe_id
  JOIN elems c ON c.vec_id = cd.cand_id AND c.pos = p.pos
  JOIN norms np ON np.vec_id = cd.probe_id
  JOIN norms nc ON nc.vec_id = cd.cand_id
  GROUP BY cd.probe_id, cd.cand_id, cd.cell_id, np.nrm, nc.nrm
)
SELECT probe_id, cand_id, cell_id, round(cosine, 9) AS cosine, rank FROM (
  SELECT probe_id, cand_id, cell_id, cosine,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cosine DESC, cand_id) AS rank
  FROM dots
) WHERE rank <= 5
""",
)
def q39_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbours: inverted-file cells from
    deterministic seed centroids (the first _IVF_MAX_CENTROIDS vectors
    at every 37th id — reproducible, no RNG/k-means iteration, and a
    FIXED cell budget so the index never grows with the corpus),
    nprobe=2 cell search.

    The other standard ANN family next to LSH (q58): every vector is
    assigned to its nearest centroid cell (argmax cosine, centroid-id
    tie-break); a probe scores only vectors in its nprobe nearest
    cells. At 100 TB the centroid set stays small and BROADCASTS, the
    assignment is one map-side broadcast cross join + partial-agg
    argmax (max_by), and the inverted file is just a
    (cell_id → members) partitioning of the corpus —
    recall grows with nprobe, cost with cell count, the standard IVF
    trade. All dot products go through DECIMAL sums so Spark and DuckDB
    agree bit-for-bit.
    """
    from ..session import default_parallelism
    from ._det import ddot12, dnrm12

    # Array-native scoring (replacing an earlier exploded-(vec, pos, x)
    # formulation): each vector stays ONE row and every dot product is a
    # zip_with decimal fold in place (shared _det.py helpers — the same
    # decimal terms as the oracle's exploded SUM), so cell assignment is
    # a broadcast cross join of corpus x centroids with no per-dimension
    # row blowup. Norms are folded map-side ONCE per vector, never built
    # as a corpus-sized side table. PRECONDITION: fixed-dimension
    # embeddings (see ddot12); q27_embedding_stats' check screens.
    # NULL / non-finite embeddings are excluded from the index — the
    # oracle goes through the screened SQL_EMB_SRC; without this Spark
    # would give the poisoned vectors null-cosine cells and candidate
    # ranks.
    emb = (
        finite_embeddings(load(spark, sf_dir, "embeddings"))
        .repartition(default_parallelism())
        .select(
            "vec_id",
            F.col("embedding").alias("emb"),
            dnrm12(F.col("embedding")).alias("nrm"),
        )
    )
    # The k lowest-id qualifying seeds via a distributed top-k
    # (TakeOrderedAndProject: map-side partial top-k, never a global
    # sort) — rank-based, so an id space that starts at 10^9 still
    # seeds exactly k cells, where an absolute id-range cutoff would
    # silently yield ZERO centroids and an empty result.
    cent = (
        emb.filter(F.col("vec_id") % _IVF_SEED_STEP == 0)
        .orderBy("vec_id")
        .limit(_IVF_MAX_CENTROIDS)
        .select(
            F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb"), F.col("nrm").alias("cnrm")
        )
    )
    vc = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cent_id",
        (ddot12(F.col("emb"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm"))).alias("cos"),
    )
    # Cell assignment as a map-side argmax: max_by over (cos, -cent_id)
    # partially aggregates the corpus x centroids rows on the scan side
    # (every vector's centroid rows are produced on one input partition
    # by the broadcast cross join), so ONE skinny row per vector reaches
    # the shuffle — where the earlier rank-window form shuffled all
    # |centroids| rows per vector just to keep rank 1. The (cos DESC,
    # cent_id ASC) order matches the oracle's row_number tie-break, and
    # cos is a decimal-folded double, so the comparison is bit-exact in
    # both engines.
    assign = vc.groupBy("vec_id").agg(
        F.max_by("cent_id", F.struct(F.col("cos"), (-F.col("cent_id")).alias("nt"))).alias(
            "cell_id"
        )
    )
    probe_cells = (
        vc.filter(F.col("vec_id") < 3)
        .withColumn(
            "cell_rank",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.col("cos").desc(), "cent_id")
            ),
        )
        .filter(F.col("cell_rank") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("probe_id"), F.col("cent_id").alias("cell_id"))
    )
    # The broadcast side is PROBE-BOUNDED: |probes| * nprobe rows, each
    # carrying one probe embedding + folded norm. The corpus side
    # (assignment re-joined with its embedding on the unique vec_id —
    # linear, co-partitioned) STREAMS through the broadcast-hash join on
    # cell_id, and each candidate's dot is an in-row fold: no scoring
    # shuffle, and nothing candidate- or corpus-proportional is ever
    # broadcast (an earlier form broadcast the candidate set with the
    # probe embedding duplicated per candidate row — cell-sized, i.e.
    # corpus/|cells|, which grows with the corpus).
    probe_info = F.broadcast(
        probe_cells.join(
            emb.select(
                F.col("vec_id").alias("probe_id"),
                F.col("emb").alias("pemb"),
                F.col("nrm").alias("pnrm"),
            ),
            "probe_id",
        )
    )
    member = assign.join(emb, "vec_id")
    scored = (
        member.join(probe_info, "cell_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            "cell_id",
            (ddot12(F.col("pemb"), F.col("emb")) / (F.col("pnrm") * F.col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), "cand_id")),
    )
    return ranked.filter(F.col("rank") <= 5).select(
        "probe_id", "cand_id", "cell_id", F.round("cosine", 9).alias("cosine"), "rank"
    )


# --------------------------------------------------------------------------
# q06 — embedding-cosine near-duplicate pairs (the dedup-by-embedding tier)

_ND_PLANES = 4  # coarser cells than q58's 8: near-dup wants recall over speed
_ND_COSINE = 0.35  # dedup-edge threshold (tuned to the synthetic corpus)


@register(
    "q06_embedding_neardup",
    headline=True,
    tags=("datapipe", "dedup", "embedding"),
    oracle=f"""
WITH b AS ({_bucket_sql("", "vec_id", nplanes=_ND_PLANES)}),
capped AS (
  -- degenerate-bucket guard: lowest-vec_id keep, as everywhere else
  SELECT vec_id, bucket FROM (
    SELECT vec_id, bucket,
           row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
    FROM b
  ) WHERE rn <= {_BUCKET_CAP}
),
elems AS (
  SELECT vec_id, i - 1 AS pos, CAST(emb[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding AS emb,
               unnest(generate_series(1, len(embedding))) AS i FROM {SQL_EMB_SRC})
),
norms AS (
  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
  FROM elems GROUP BY vec_id
),
cand AS (
  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b, a.bucket
  FROM capped a JOIN capped b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
),
dots AS (
  SELECT c.vec_a, c.vec_b, c.bucket,
         CAST(sum(CAST(ea.x * eb.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
  FROM cand c
  JOIN elems ea ON ea.vec_id = c.vec_a
  JOIN elems eb ON eb.vec_id = c.vec_b AND eb.pos = ea.pos
  GROUP BY c.vec_a, c.vec_b, c.bucket
)
SELECT d.vec_a, d.vec_b, d.bucket,
       round(d.dot / (na.nrm * nb.nrm), 9) AS cosine,
       d.vec_a AS keep_vec_id
FROM dots d
JOIN norms na ON na.vec_id = d.vec_a
JOIN norms nb ON nb.vec_id = d.vec_b
WHERE d.dot / (na.nrm * nb.nrm) >= {_ND_COSINE}
""",
)
def q06_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: the dedup tier that works on
    semantics rather than surface text (paraphrases, translations, OCR
    variants that MinHash/SimHash miss).

    Plan shape — the most shuffle-lean of the similarity family:

    1. bucket + norm are computed MAP-SIDE per row (indexed-lambda
       higher-order folds over the embedding array — no explode, no
       per-vector aggregation shuffle);
    2. ONE shuffle groups capped buckets (rank-filter → map-side
       WindowGroupLimit first, so a degenerate cell carries at most
       ``_BUCKET_CAP`` members);
    3. pairs are expanded inside each bucket's member array and scored
       in place with a ``zip_with`` decimal dot-product fold — candidate
       pairs never leave their bucket, so there is NO pairwise join, no
       position-explode, and no corpus-sized table anywhere.

    Steps 2–3 are ``_pairs.cosine_pair_tier`` (keyed by bucket, lowest
    vec_id kept), the same tier SemDeDup runs per k-means cluster.

    Fewer planes than q58 (4 → 16 cells): dedup wants same-cell recall
    for moderately-similar vectors, and the cap already bounds cell
    cost. All arithmetic is decimal-folded exactly like the oracle's
    exploded SUM (decimal addition is order-insensitive), so the hash
    check is exact. Emits a ``keep_vec_id`` (lowest id) per edge — feed
    into hash_min_components for cluster-level dedup decisions.
    """
    from ..session import default_parallelism

    from ._det import dec12, dfold12, dnrm12

    emb = finite_embeddings(load(spark, sf_dir, "embeddings")).repartition(
        default_parallelism()
    )

    def weight(j: int, i: F.Column) -> F.Column:
        return _h32_expr(F.concat_ws("", F.lit(f"{j}:"), i.cast("string"))) % 2 * 2 - 1

    bits = [
        (
            dfold12(
                F.transform(
                    "embedding",
                    lambda x, i: dec12(F.round(x.cast("double"), 9) * weight(j, i)),
                )
            )
            > 0
        )
        for j in range(_ND_PLANES)
    ]
    bucket = sum(
        [F.when(b, F.lit(1 << j)).otherwise(F.lit(0)) for j, b in enumerate(bits)], F.lit(0)
    )
    nrm = dnrm12("embedding")
    staged = emb.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        bucket.alias("bucket"),
        nrm.alias("nrm"),
    )
    pairs = cosine_pair_tier(staged, "bucket", ["vec_id"], _BUCKET_CAP, _ND_COSINE)
    return pairs.select(
        F.col("p.vec_a").alias("vec_a"),
        F.col("p.vec_b").alias("vec_b"),
        "bucket",
        F.round(pair_cosine(), 9).alias("cosine"),
        F.col("p.vec_a").alias("keep_vec_id"),
    )


# --------------------------------------------------------------------------
# q07 — multi-probe LSH ANN (the recall tier on top of q58's single-probe)

_MP_PLANES = 4  # coarser cells than q58's 8 — multi-probe trades cell
#                 selectivity for reachable neighbors
_MP_EXTRA = 4  # extra cells probed per query (least-confident bit flips)


@register(
    "q07_ann_multiprobe",
    tags=("datapipe", "similarity", "lsh"),
    oracle=f"""
WITH planes AS (SELECT unnest(generate_series(0, {_MP_PLANES - 1})) AS j),
pe AS (
  SELECT vec_id AS probe_id, i - 1 AS pos, CAST(emb[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding AS emb,
               unnest(generate_series(1, len(embedding))) AS i
        FROM {SQL_EMB_SRC} WHERE vec_id < 3)
),
ps AS (
  -- per-plane signed sums: the sign is the bit, |sum| is the margin
  SELECT probe_id, j,
         CAST(sum(CAST(round(x, 9) *
              (({_SQL_H32.format(e="CAST(j AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")}) % 2 * 2 - 1)
              AS DECIMAL(28,12))) AS DOUBLE) AS s
  FROM pe CROSS JOIN planes GROUP BY probe_id, j
),
base AS (
  SELECT probe_id, CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
  FROM ps GROUP BY probe_id
),
flips AS (
  SELECT probe_id, j,
         row_number() OVER (PARTITION BY probe_id ORDER BY abs(s), j) AS rnk
  FROM ps
),
probe_cells AS (
  SELECT probe_id, bucket FROM base
  UNION
  SELECT b.probe_id, xor(b.bucket, CAST(1 << f.j AS BIGINT)) AS bucket
  FROM base b JOIN flips f ON f.probe_id = b.probe_id AND f.rnk <= {_MP_EXTRA}
),
cb_all AS ({_bucket_sql("", "cand_id", nplanes=_MP_PLANES)}),
cb AS (
  SELECT cand_id, bucket FROM (
    SELECT cand_id, bucket,
           row_number() OVER (PARTITION BY bucket ORDER BY cand_id) AS rn
    FROM cb_all
  ) WHERE rn <= {_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT pc.probe_id, cb.cand_id
  FROM probe_cells pc JOIN cb ON pc.bucket = cb.bucket AND pc.probe_id <> cb.cand_id
),
elems AS (
  SELECT vec_id, i - 1 AS pos, CAST(emb[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding AS emb,
               unnest(generate_series(1, len(embedding))) AS i FROM {SQL_EMB_SRC})
),
dots AS (
  SELECT cp.probe_id, cp.cand_id,
         CAST(sum(CAST(p.x * c.x AS DECIMAL(28,12))) AS DOUBLE) AS dot,
         sqrt(CAST(sum(CAST(p.x * p.x AS DECIMAL(28,12))) AS DOUBLE)) AS pnrm,
         sqrt(CAST(sum(CAST(c.x * c.x AS DECIMAL(28,12))) AS DOUBLE)) AS cnrm
  FROM cand cp
  JOIN elems p ON p.vec_id = cp.probe_id
  JOIN elems c ON c.vec_id = cp.cand_id AND c.pos = p.pos
  GROUP BY cp.probe_id, cp.cand_id
)
SELECT probe_id, cand_id, round(cosine, 9) AS cosine, rank FROM (
  SELECT probe_id, cand_id, dot / (pnrm * cnrm) AS cosine,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY dot / (pnrm * cnrm) DESC, cand_id) AS rank
  FROM dots
) WHERE rank <= 5
""",
)
def q07_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each probe searches its own cell PLUS the
    cells reached by flipping its least-confident hyperplane bits
    (smallest |margin| first — the standard multi-probe trade: the
    recall of many hash tables at the memory cost of one index).

    Single-table sign-LSH (q58) has near-zero recall on high-entropy
    corpora; multi-probe with a coarser index (4 planes, 16 cells,
    1+{_MP_EXTRA} cells probed) is the production fix — measured
    recall@5 ≥ 0.6 vs the exact ranking where q58 finds nothing
    (asserted in tests/test_driver_contract.py). The cost is candidate
    volume: ~5/16 of the cell space per probe; at larger corpora raise
    planes AND probes together to keep the candidate fraction fixed.
    The probe side stays tiny (probes × cells) and broadcasts; the
    candidate index is the same capped per-cell layout as q58 — nothing
    corpus-sized is built, shuffled, or broadcast (norms fold into the
    scoring agg, the q39 pattern).
    """
    from ..session import default_parallelism

    # Round-14 restatement (guide §2.3/§2.4, the q101 shape): plane
    # sums, buckets and pair cosines all run IN-ROW over the embedding
    # array. The old plan position-exploded the corpus four times and
    # paid a corpus-sized groupBy(vec_id) of dim-exploded rows per
    # bucket side plus a pos-equality scoring join; per-term decimal
    # expressions are unchanged, so every sum/margin/cosine bit
    # matches the exploded oracle.
    emb = finite_embeddings(load(spark, sf_dir, "embeddings")).repartition(
        default_parallelism()
    )
    # EMPTY-ARRAY DEPENDENCE (round-14 advice): sequence(0, -1)
    # DESCENDS for an empty embedding and would fabricate a [0,-1]
    # pair where the old posexplode emitted none — unreachable only
    # because finite_embeddings screens empty arrays upstream; guard
    # with F.size > 0 if that screen is ever relaxed. Like the ANN-LSH
    # tier (ann_lsh), each
    # per-plane fold instantiates its own copy of this zip_with
    # subtree (once per plane per row — constant work).
    pairs = F.zip_with(
        F.col("embedding"),
        F.sequence(F.lit(0), F.size("embedding") - 1),
        lambda x, p: F.struct(x.cast("double").alias("x"), p.alias("pos")),
    )

    def term_fn(j: int):
        # one-arg lambda from a closure factory — see q101's pinned
        # pyspark (element, index) binary-form gotcha
        return lambda e: dec12(
            F.round(e["x"], 9)
            * (
                _h32_expr(F.concat_ws("", F.lit(f"{j}:"), e["pos"]))
                % 2
                * 2
                - 1
            )
        )

    sums_row = emb.select(
        "vec_id",
        "embedding",
        *[
            dfold12(F.transform(pairs, term_fn(j))).alias(f"s{j}")
            for j in range(_MP_PLANES)
        ],
    )
    sums = sums_row.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pemb"),
        *[F.col(f"s{j}") for j in range(_MP_PLANES)],
    )
    base_code = sum(
        [
            F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(_MP_PLANES)
        ],
        F.lit(0),
    ).cast("bigint")
    # margin-sorted plane ids: struct sort orders by (|s|, j) — the same
    # (abs(s), j) tie-break as the oracle's row_number
    margins = F.array_sort(
        F.array(
            *[
                F.struct(F.abs(F.col(f"s{j}")).alias("m"), F.lit(j).alias("j"))
                for j in range(_MP_PLANES)
            ]
        )
    )
    cells = F.array_union(
        F.array(base_code),
        F.transform(
            F.slice(margins, 1, _MP_EXTRA),
            # shiftleft's pyspark wrapper only takes a literal shift; the
            # SQL function accepts a column operand
            lambda e: base_code.bitwiseXOR(
                F.call_function("shiftleft", F.lit(1), e["j"]).cast("bigint")
            ),
        ),
    )
    pb = sums.select(
        "probe_id", "pemb", F.explode(cells.cast("array<bigint>")).alias("bucket")
    )

    cand_code = sum(
        [
            F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(_MP_PLANES)
        ],
        F.lit(0),
    ).cast("bigint")
    wcap = W.partitionBy("bucket").orderBy("cand_id")
    cb = (
        sums_row.select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("cemb"),
            cand_code.alias("bucket"),
        )
        .withColumn("_rn", F.row_number().over(wcap))
        .filter(F.col("_rn") <= _BUCKET_CAP)
        .drop("_rn")
    )
    # (probe_id, cand_id) is unique without a dedup pass: a candidate
    # carries exactly ONE bucket (one cb row per vec_id) and the
    # probe's cell array is array_union'd distinct, so each pair can
    # match on at most one cell — the old plan's defensive .distinct()
    # over the pair table was a no-op by construction.
    scored = (
        cb.join(F.broadcast(pb), "bucket")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select(
            "probe_id",
            "cand_id",
            (
                ddot12(F.col("pemb"), F.col("cemb"))
                / (dnrm12(F.col("pemb")) * dnrm12(F.col("cemb")))
            ).alias("cosine"),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), "cand_id")),
    )
    return ranked.filter(F.col("rank") <= 5).select(
        "probe_id", "cand_id", F.round("cosine", 9).alias("cosine"), "rank"
    )


# --------------------------------------------------------------------------
# q10 — canonical-corpus resolution: clusters + quality → keep decision

@register(
    "q10_canonical_corpus",
    tags=("datapipe", "dedup", "clustering", "quality"),
    oracle=f"""
WITH RECURSIVE {_CC_SQL_CTES},
feat AS (
  SELECT doc_id, n_chars,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS uniq_ratio
  FROM documents
),
ranked AS (
  SELECT l.cluster_id, l.doc_id, f.n_chars,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY f.uniq_ratio DESC, l.doc_id) AS rn
  FROM labeled l JOIN feat f USING (doc_id)
)
SELECT cluster_id,
       max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped,
       CAST(coalesce(sum(CASE WHEN rn > 1 THEN n_chars END), 0) AS BIGINT)
         AS chars_dropped
FROM ranked
GROUP BY cluster_id
""",
)
def q10_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup resolution: near-dup clusters (q37's connected
    components) + quality features (q53) → ONE canonical document per
    cluster and the cost of dropping the rest.

    Unlike q37's positional representative (lowest doc_id), the
    canonical doc is the QUALITY winner — highest lexical-diversity
    ratio, doc_id as the deterministic tie-break — which is how a
    training-data pipeline actually resolves a boilerplate family: keep
    the best copy, not the first-crawled one.

    Scale shape: labels come from the bounded Hash-Min iteration
    (one shuffle per round, diameter-bounded); the quality join is
    doc_id-keyed; the rank is a per-cluster window (cluster sizes are
    LSH-bucket-bounded, no global window). Everything downstream of the
    CC is a single groupBy on cluster_id.
    """
    from .datapipe import quality_features

    docs = load(spark, sf_dir, "documents")
    labels = cluster_labels(docs)
    feat = quality_features(docs).select("doc_id", "n_chars", "uniq_ratio")
    ranked = labels.join(feat, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("cluster_id").orderBy(F.col("uniq_ratio").desc(), "doc_id")
        ),
    )
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("canonical_doc"),
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - F.lit(1)).alias("n_dropped"),
        F.coalesce(F.sum(F.when(F.col("rn") > 1, F.col("n_chars"))), F.lit(0)).alias(
            "chars_dropped"
        ),
    )


# --------------------------------------------------------------------------
# q100 — contrastive pair mining: overlap positives + LSH hard negatives

@register(
    "q57_contrastive_pairs",
    tags=("datapipe", "contrastive", "pairs", "mining"),
    oracle=f"""
WITH {_Q55_CTES},
pos AS (
  SELECT greatest(len(string_split(text, ' ')) // 48
                  + CASE WHEN len(string_split(text, ' ')) % 48 > 0 THEN 1 ELSE 0 END
                  - 1, 0) AS n
  FROM documents
),
scored AS (
  SELECT doc_a, doc_b,
         CAST(len(list_filter(generate_series(1, {_MINHASH_K}),
                              i -> sig_a[i] = sig_b[i])) AS DOUBLE) / {_MINHASH_K}
           AS est_j
  FROM pairs
)
SELECT (SELECT CAST(sum(n) AS BIGINT) FROM pos) AS n_positive_pairs,
       (SELECT count(*) FROM scored WHERE est_j < {_CLUSTER_JACCARD})
         AS n_hard_negative_pairs,
       (SELECT count(*) FROM scored WHERE est_j >= {_CLUSTER_JACCARD})
         AS n_excluded_neardups
""",
)
def q57_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training pair mining over the corpus:

    - POSITIVES: adjacent overlapping context-window chunks of the same
      document (the q91 chunker's 64/48 geometry — each consecutive
      chunk pair shares a 16-token overlap), counted per doc as
      chunks−1. Pure arithmetic on token counts, map-only.
    - HARD NEGATIVES: document pairs that collide in an LSH band (so
      they look alike at the signature level) but are NOT near-dups
      (estimated Jaccard below the dedup threshold) — the
      similar-yet-different pairs contrastive learning actually needs,
      mined from the same capped-bucket candidate machinery as q55; the
      near-dup collisions are excluded (and counted) because training
      on a duplicate as a negative poisons the objective.

    Scale shape: positives never shuffle; negatives inherit q55's
    bucket caps, so no key can go quadratic.
    """
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    n_chunks = (n_tok / 48).cast("bigint") + F.when(n_tok % 48 > 0, 1).otherwise(0)
    pos = docs.select(F.greatest(n_chunks - 1, F.lit(0)).alias("n")).agg(
        F.sum("n").cast("bigint").alias("n_positive_pairs")
    )
    pairs = lsh_band_pairs(_minhash_sigs(docs))
    scored = pairs.select((F.col("agree").cast("double") / _MINHASH_K).alias("est_j"))
    neg = scored.agg(
        F.count_if(F.col("est_j") < _CLUSTER_JACCARD).alias("n_hard_negative_pairs"),
        F.count_if(F.col("est_j") >= _CLUSTER_JACCARD).alias("n_excluded_neardups"),
    )
    return pos.crossJoin(F.broadcast(neg))


# --------------------------------------------------------------------------
# q17/q25 — semantic clustering (distributed Lloyd's k-means) and
# SemDeDup-style within-cluster semantic deduplication.
#
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540, public) prunes
# semantically redundant training data: cluster the embedding space,
# then inside each cluster drop all but one member of every
# high-cosine pair. The clustering makes the pairwise tier tractable —
# pairs are only ever formed WITHIN a cluster (capped), never across
# the corpus.
#
# Everything is deterministic and oracle-mirrored: seed centroids are
# the _KM_K lowest ids at every _KM_SEED_STEP-th vector (no RNG), the
# Lloyd iteration count is FIXED at 2 assignment rounds (1 centroid
# update) so the whole computation is one static DataFrame plan — no
# driver loop, no checkpoint — and the DuckDB oracle unrolls the same
# two rounds as CTEs. Cluster ids are seed vec_ids (stable through the
# update). All cosines go through the shared decimal folds.

_KM_SEED_STEP = 23  # every 23rd vector is a seed candidate
_KM_K = 8  # FIXED cluster budget (an index that grows with the corpus
#            is the q39 anti-pattern; real k-means picks k up front)
_KM_MEMBER_CAP = 512  # pairwise tier cap per cluster (driver SFs sit below)
_KM_DUP_COS = 0.38  # within-cluster semantic-duplicate threshold
#                     (tuned to the synthetic corpus, like q06's 0.35)

# Shared oracle CTE chain: elems/norms → seeds → round-1 assignment →
# centroid mean update → round-2 assignment. Used by q17 and q25.
_KM_SQL_CTES = f"""elems AS (
  SELECT vec_id, i - 1 AS pos, CAST(emb[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding AS emb,
               unnest(generate_series(1, len(embedding))) AS i FROM {SQL_EMB_SRC})
),
norms AS (
  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
  FROM elems GROUP BY vec_id
),
seeds AS (SELECT vec_id FROM {SQL_EMB_SRC} WHERE vec_id % {_KM_SEED_STEP} = 0
          ORDER BY vec_id LIMIT {_KM_K}),
cent1 AS (SELECT e.vec_id AS cluster_id, pos, x FROM elems e
          JOIN seeds s ON s.vec_id = e.vec_id),
vc1 AS (
  SELECT e.vec_id, c.cluster_id,
         CAST(sum(CAST(e.x * c.x AS DECIMAL(28,12))) AS DOUBLE)
           / (nv.nrm * nc.nrm) AS cos
  FROM elems e
  JOIN cent1 c ON c.pos = e.pos
  JOIN norms nv ON nv.vec_id = e.vec_id
  JOIN norms nc ON nc.vec_id = c.cluster_id
  GROUP BY e.vec_id, c.cluster_id, nv.nrm, nc.nrm
),
a1 AS (
  SELECT vec_id, cluster_id FROM (
    SELECT vec_id, cluster_id, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos DESC, cluster_id) AS rn
    FROM vc1) WHERE rn = 1
),
cent2 AS (
  -- mean components are division results (full-precision doubles);
  -- round to 9 before they feed decimal folds downstream — the
  -- _det.py double->decimal cast rule (Spark casts via shortest
  -- string, DuckDB via exact binary; raw quotients can differ in the
  -- last decimal digit)
  SELECT a1.cluster_id, e.pos,
         round(CAST(sum(CAST(e.x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9) AS x
  FROM a1 JOIN elems e ON e.vec_id = a1.vec_id
  GROUP BY a1.cluster_id, e.pos
),
cnorm2 AS (
  -- degenerate-centroid guard, mirroring _km_update_centroids: a
  -- cluster mean with all quantized squares 0 is dropped (vc2's inner
  -- join reassigns its members), not divided by
  SELECT cluster_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
  FROM cent2 GROUP BY cluster_id
  HAVING sum(CAST(x * x AS DECIMAL(28,12))) > 0
),
vc2 AS (
  SELECT e.vec_id, c.cluster_id,
         CAST(sum(CAST(e.x * c.x AS DECIMAL(28,12))) AS DOUBLE)
           / (nv.nrm * nc.nrm) AS cos
  FROM elems e
  JOIN cent2 c ON c.pos = e.pos
  JOIN norms nv ON nv.vec_id = e.vec_id
  JOIN cnorm2 nc ON nc.cluster_id = c.cluster_id
  GROUP BY e.vec_id, c.cluster_id, nv.nrm, nc.nrm
),
assign AS (
  SELECT vec_id, cluster_id, cos FROM (
    SELECT vec_id, cluster_id, cos, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos DESC, cluster_id) AS rn
    FROM vc2) WHERE rn = 1
)"""


def _km_seed_centroids(emb: DataFrame) -> DataFrame:
    """The _KM_K lowest-id seed vectors (cluster_id = seed vec_id), via
    a distributed top-k (TakeOrderedAndProject) — rank-based, so an id
    space starting anywhere still seeds exactly k clusters."""
    return (
        emb.filter(F.col("vec_id") % _KM_SEED_STEP == 0)
        .orderBy("vec_id")
        .limit(_KM_K)
        .select(
            F.col("vec_id").alias("cluster_id"),
            F.col("emb").alias("cemb"),
            F.col("nrm").alias("cnrm"),
        )
    )


def _km_assign_round(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd assignment: nearest centroid by cosine, (cos DESC,
    cluster_id ASC) tie-break — the FIXED-k centroid table collapses to
    ONE array row (k-bounded), broadcast-cross-joined onto the corpus,
    and the argmax runs IN-ROW over that array.

    Round-14 optimization (guide §2.4/§8): the previous shape cross-
    joined every vector against k centroid ROWS and collapsed them with
    a groupBy(vec_id) max_by — partial aggregation made the k→1
    collapse map-side, but the groupBy still paid a corpus-sized
    EXCHANGE whose rows carry the full embedding array, per assignment
    round (the guide's "heavy payload shuffled to make a decision
    computable from small rows"). With the centroids as one broadcast
    array row, each vector scores all k candidates inside its own row
    and the round has ZERO exchanges — measured 2.52s → 1.34s for q17
    at sf0.1 (two rounds), and every k-means consumer (q17/q25/q120/
    q133/q134, streaming semdedup) inherits the win.

    Values are bit-identical: the same ddot12/nrm expressions produce
    the same cosine doubles, and array_max over (cos, -cluster_id)
    structs is exactly the old max_by tie-break (ties to the LOWEST
    cluster_id). The empty-centroid filter preserves the old inner
    cross-join semantics (no centroids → no assignment rows, the
    degenerate-centroid corpus of tests/test_semantic.py). Duplicate
    vec_ids now keep one assignment row per input row instead of
    merging — adjudicated in the ID_UNIQUENESS_CONTRACT_FAMILY notes
    (every k-means consumer is already in the family; divergence on
    duplicate-id corpora remains, as the contract test requires).
    """
    carr = cent.agg(
        F.array_sort(
            F.collect_list(F.struct("cluster_id", "cemb", "cnrm"))
        ).alias("carr")
    ).filter(F.size("carr") > 0)
    cand = F.transform(
        "carr",
        lambda c: F.struct(
            (ddot12(F.col("emb"), c["cemb"]) / (F.col("nrm") * c["cnrm"])).alias(
                "cos"
            ),
            (-c["cluster_id"]).alias("nid"),
        ),
    )
    best = F.array_max(cand)
    return emb.crossJoin(F.broadcast(carr)).select(
        "vec_id",
        (-best["nid"]).alias("cluster_id"),
        best["cos"].alias("cos"),
        "emb",
        "nrm",
    )


def _km_update_centroids(assigned: DataFrame) -> DataFrame:
    """Centroid mean update: per-(cluster, dimension) exact-decimal sum
    ÷ member count, reassembled into an array row per cluster. The
    position explode multiplies rows by the dimension, but each row is
    a skinny (cluster, pos, x) triple and the aggregation is
    partial-aggregatable — the shuffle carries k × dim rows per map
    partition, never the corpus. Output is k rows; the caller
    broadcasts it into the next assignment round."""
    ex = assigned.select(
        "cluster_id", F.posexplode("emb").alias("pos", "xf")
    ).select("cluster_id", "pos", F.col("xf").cast("double").alias("x"))
    # round-to-9 before the mean components feed decimal folds in the
    # next round: quotients are full-precision doubles, and the
    # double->decimal cast is the one operation Spark and DuckDB
    # round differently (_det.py's cast rule)
    cent = ex.groupBy("cluster_id", "pos").agg(
        F.round(F.sum(dec12(F.col("x"))).cast("double") / F.count(F.lit(1)), 9).alias("x")
    )
    carr = cent.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "x"))), lambda s: s["x"]
        ).alias("cemb")
    )
    # Guard the DERIVED centroids exactly like the input screen: a
    # cluster mean of near-cancelling members can have all quantized
    # squares 0 (decimal norm 0) even though every INPUT vector passed
    # emb_finite_cond — the assignment cosine then divides by
    # nrm * cnrm = 0, the same ANSI DIVIDE_BY_ZERO the screen exists
    # for (round-8 advice). Dropping the degenerate cluster is the
    # symmetric semantics: its members reassign to surviving centroids
    # in the next round, and the oracle's cnorm2 HAVING clause +
    # vc2's inner join do the identical thing. sqrt of a positive
    # decimal sum is a positive double, so cnrm > 0 here is exactly
    # "some quantized square > 0" (the emb_finite_cond rule).
    return carr.select(
        "cluster_id", "cemb", dnrm12(F.col("cemb")).alias("cnrm")
    ).filter(F.col("cnrm") > 0)


def _km_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The screened, normalized embedding frame every k-means consumer
    starts from — persist_tracked ONCE per query (guide §5). Without
    the barrier, the seed top-k, each assignment round's main side,
    and every broadcast centroid build re-derive this exact subtree
    independently: scan + finite screen + a corpus-sized repartition
    EXCHANGE each time (q134 executed it 8 times, q120 5 times at
    round-14 measurement). Values are unchanged — a cache barrier is
    plan-shape only. MEMORY_AND_DISK via persist_tracked, so a
    corpus-sized frame spills rather than OOMs; at production scale
    the staged-parquet pattern (see kmeans_assignments) replaces the
    in-query cache for MULTI-query reuse."""
    from ..session import default_parallelism

    return persist_tracked(
        finite_embeddings(load(spark, sf_dir, "embeddings"))
        .repartition(default_parallelism())
        .select(
            "vec_id",
            F.col("embedding").alias("emb"),
            dnrm12(F.col("embedding")).alias("nrm"),
        )
    )


def km_first_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screened embedding prep + the round-1 seed assignment — shared
    by kmeans_assignments and streaming.semdedup.fitted_centroids so
    the offline-fitted model can never de-sync from the batch query it
    mirrors (same screen, same partitioning, same seed round)."""
    return _km_assign_round(*_km_first_round_parts(spark, sf_dir))


def _km_first_round_parts(spark: SparkSession, sf_dir: str):
    """(emb, seed) — split out so kmeans_assignments can hold the
    cached emb handle itself."""
    emb = _km_emb(spark, sf_dir)
    return emb, _km_seed_centroids(emb)


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster_id, cos, emb, nrm) after 2 Lloyd assignment
    rounds with 1 centroid mean update — the shared front half of
    q17/q25. A static plan: fixed k, fixed rounds, no driver loop.

    A consumer that uses the assignments more than once (q25: member
    grouping + the final decision join) must put a barrier here or pay
    the subtree per consumer — q25 persist()s (round 9; measured faster
    than both localCheckpoint flavors); a production deployment stages
    the assignments to parquet once and runs every consumer off the
    staged table (the pipeline.py staged-sink pattern); alternatively
    streaming/semdedup.py's fitted_centroids collects the k centroids
    and re-applies them as a pure map, which is the shape an online
    system uses anyway.

    Round-14: the round-1 assignment a1 is ALSO persisted — it has two
    consumers (the centroid mean update's broadcast build and the
    round-2 main side), each of which otherwise re-executes the whole
    seed + assign front (guide §5; the emb cache in _km_emb removes
    the per-consumer scans, this barrier removes the duplicated
    round-1 argmax)."""
    a1 = persist_tracked(km_first_round(spark, sf_dir))
    return _km_assign_round(
        a1.select("vec_id", "emb", "nrm"), _km_update_centroids(a1)
    )


@register(
    "q17_semantic_kmeans",
    tags=("datapipe", "similarity", "clustering"),
    oracle=f"""
WITH {_KM_SQL_CTES}
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       round(CAST(sum(CAST(round(cos, 9) AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9)
         AS mean_cos
FROM assign GROUP BY cluster_id
""",
)
def q17_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus: per-cluster
    membership count and mean cosine-to-centroid after 2 deterministic
    assignment rounds (seed centroids at fixed id strides, 1 exact
    decimal mean update).

    At 100 TB each round is one broadcast cross join (k centroids,
    FIXED budget) + map-side argmax; the update shuffles k × dim
    partial sums per map partition. The corpus is scanned twice per
    round and nothing corpus-sized is ever broadcast, collected, or
    joined pairwise. The DuckDB oracle unrolls the identical two rounds
    as CTEs, so the distributed formulation is cross-checked against an
    independent engine, cell-exact.
    """
    assign = kmeans_assignments(spark, sf_dir)
    return assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        # cosines are quotients: round to 9 before the decimal-sum
        # (the same cast rule as the centroid components)
        F.round(
            F.sum(dec12(F.round(F.col("cos"), 9))).cast("double") / F.count(F.lit(1)), 9
        ).alias("mean_cos"),
    )


@register(
    "q25_semantic_dedup",
    headline=True,  # benches the whole semantic family: k-means front
    #                 (q17's plan) + the capped in-array pair tier
    tags=("datapipe", "dedup", "embedding", "clustering"),
    oracle=f"""
WITH {_KM_SQL_CTES},
capped AS (
  SELECT vec_id, cluster_id, cos FROM (
    SELECT vec_id, cluster_id, cos, row_number() OVER (
             PARTITION BY cluster_id ORDER BY cos DESC, vec_id) AS rn
    FROM assign) WHERE rn <= {_KM_MEMBER_CAP}
),
pair_dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(sum(CAST(ea.x * eb.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
  FROM capped a
  JOIN capped b ON b.cluster_id = a.cluster_id AND a.vec_id < b.vec_id
  JOIN elems ea ON ea.vec_id = a.vec_id
  JOIN elems eb ON eb.vec_id = b.vec_id AND eb.pos = ea.pos
  GROUP BY a.vec_id, b.vec_id
),
dups AS (
  SELECT p.vec_b AS vec_id, min(p.vec_a) AS dup_of
  FROM pair_dots p
  JOIN norms na ON na.vec_id = p.vec_a
  JOIN norms nb ON nb.vec_id = p.vec_b
  WHERE p.dot / (na.nrm * nb.nrm) >= {_KM_DUP_COS}
  GROUP BY p.vec_b
)
SELECT a.vec_id, a.cluster_id, round(a.cos, 9) AS centroid_cos,
       d.dup_of IS NULL AS is_kept, d.dup_of
FROM assign a LEFT JOIN dups d ON d.vec_id = a.vec_id
""",
)
def q25_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: within each k-means cluster, every pair of members with
    cosine >= _KM_DUP_COS is a semantic duplicate and the higher id is
    dropped in favor of the lowest such partner (min-id representative,
    the q37 convention). Output is the per-vector keep/drop decision
    with its cluster and centroid cosine.

    Scale shape: pairs exist only WITHIN a cluster, and each cluster's
    pairwise tier is capped to its _KM_MEMBER_CAP most-central members
    (rank-filter → map-side WindowGroupLimit, the _BUCKET_CAP pattern) —
    the cap bounds the quadratic term per cluster no matter how skewed
    the clustering gets. The pair tier is ``_semdedup_dups`` — the
    shared ``_pairs.cosine_pair_tier`` keyed by cluster, the same one
    q06 runs per LSH bucket and q120/q134 run per touched cluster. The
    final decision join is per-vector (linear).

    The assignment is persist()ed because TWO subtrees of the final
    job consume it (the capped member tier and the per-vector decision
    join) — without a barrier the plan re-derives the whole k-means
    front half per consumer, and the subtrees prune differently so
    Catalyst's ReusedExchange never fires (round-8 verdict: n_exchanges
    25, 8 parquet scans, the catalog's widest). persist() beat both
    localCheckpoint flavors head-to-head at sf0.1 (1.13s vs 1.65s
    unpersisted vs 2.4–2.5s checkpointed): the InMemoryRelation is
    shared by both consumers inside ONE job (BlockManager dedups
    per-partition compute under concurrency) with no
    materialization-job barrier and no checkpoint serialization.
    n_exchanges 25 → 12, scans 8 → 3. MEMORY_AND_DISK, so a
    corpus-sized assignment spills rather than OOMs; at production
    scale the staged-parquet pattern still wins for MULTI-QUERY reuse
    (see kmeans_assignments), but within one query this is the right
    barrier. persist_tracked, so harness releases go through the
    CacheManager (a raw-RDD unpersist leaves a dead cache entry and
    the NEXT q25 call's persist() would silently no-op — round-9
    advice); release_new_persists drains it.
    """
    assign = persist_tracked(kmeans_assignments(spark, sf_dir))
    dups = _semdedup_dups(assign)
    return assign.join(dups, "vec_id", "left").select(
        "vec_id",
        "cluster_id",
        F.round("cos", 9).alias("centroid_cos"),
        F.col("dup_of").isNull().alias("is_kept"),
        "dup_of",
    )


# ---------------------------------------------------------------------------
# q120 — incremental SemDeDup maintenance (round-12 verdict "next round" #1:
# the q114 merge-replay pattern applied to the EMBEDDING tier). Production
# story: the k-means model (centroids) and the per-vector assignments +
# keep/drop decisions are STORED state fitted on the already-ingested
# history; a day's new embeddings assign against the broadcast stored
# centroids (one map pass — no refit), and the SemDeDup pair scan re-runs
# ONLY over clusters the batch touched. Decisions for untouched clusters
# are provably unchanged (same member set, same capped ranking, same
# pairs), so incremental == a full pass under the stored model — the
# parity tests/test_incremental_semdedup.py asserts, including on an
# engineered corpus where some clusters receive NO batch member. Model
# drift is handled by a periodic refit (the q25 plan), not per-batch:
# folding batch vectors into the centroids per arrival would make every
# cluster "touched" and the incremental structure vacuous — the churn
# columns this query emits (newly_pruned, per-cluster batch share) are
# exactly the refit trigger signal.

_IKM_ELEMS_CTES = f"""elems AS (
  SELECT vec_id, i - 1 AS pos, CAST(emb[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding AS emb,
               unnest(generate_series(1, len(embedding))) AS i FROM {SQL_EMB_SRC})
),
norms AS (
  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
  FROM elems GROUP BY vec_id
)"""

# The STORED model's assignment of the full corpus: history-fit
# centroids (seed on the history slice, 1 assignment round, 1 exact
# mean update) applied to every screened vector. Factored so q120/q133
# (which only need it) and q134's refit diff (which pairs it against
# the _KM_SQL_CTES full refit) share one definition. Expects
# elems/norms in scope; emits `assign_old`.
_IKM_OLD_MODEL_CTES = f"""hseeds AS (SELECT vec_id FROM {SQL_EMB_SRC}
           WHERE vec_id % {_KM_SEED_STEP} = 0
             AND vec_id % {_INC_HIST_MOD} < {_INC_HIST_CUT}
           ORDER BY vec_id LIMIT {_KM_K}),
hcent1 AS (SELECT e.vec_id AS cluster_id, pos, x FROM elems e
           JOIN hseeds s ON s.vec_id = e.vec_id),
hvc1 AS (
  SELECT e.vec_id, c.cluster_id,
         CAST(sum(CAST(e.x * c.x AS DECIMAL(28,12))) AS DOUBLE)
           / (nv.nrm * nc.nrm) AS cos
  FROM elems e
  JOIN hcent1 c ON c.pos = e.pos
  JOIN norms nv ON nv.vec_id = e.vec_id
  JOIN norms nc ON nc.vec_id = c.cluster_id
  WHERE e.vec_id % {_INC_HIST_MOD} < {_INC_HIST_CUT}
  GROUP BY e.vec_id, c.cluster_id, nv.nrm, nc.nrm
),
ha1 AS (
  SELECT vec_id, cluster_id FROM (
    SELECT vec_id, cluster_id, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos DESC, cluster_id) AS rn
    FROM hvc1) WHERE rn = 1
),
hcent2 AS (
  SELECT ha1.cluster_id, e.pos,
         round(CAST(sum(CAST(e.x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9) AS x
  FROM ha1 JOIN elems e ON e.vec_id = ha1.vec_id
  GROUP BY ha1.cluster_id, e.pos
),
hcnorm2 AS (
  SELECT cluster_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
  FROM hcent2 GROUP BY cluster_id
  HAVING sum(CAST(x * x AS DECIMAL(28,12))) > 0
),
avc AS (
  SELECT e.vec_id, c.cluster_id,
         CAST(sum(CAST(e.x * c.x AS DECIMAL(28,12))) AS DOUBLE)
           / (nv.nrm * nc.nrm) AS cos
  FROM elems e
  JOIN hcent2 c ON c.pos = e.pos
  JOIN norms nv ON nv.vec_id = e.vec_id
  JOIN hcnorm2 nc ON nc.cluster_id = c.cluster_id
  GROUP BY e.vec_id, c.cluster_id, nv.nrm, nc.nrm
),
assign_old AS (
  SELECT vec_id, cluster_id, cos,
         vec_id % {_INC_HIST_MOD} >= {_INC_HIST_CUT} AS is_batch
  FROM (
    SELECT vec_id, cluster_id, cos, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos DESC, cluster_id) AS rn
    FROM avc) WHERE rn = 1
)"""

_IKM_ASSIGN_CTES = f"""{_IKM_ELEMS_CTES},
{_IKM_OLD_MODEL_CTES},
assign AS (SELECT * FROM assign_old),
touched AS (SELECT DISTINCT cluster_id FROM assign WHERE is_batch),
tmem AS (SELECT a.* FROM assign a SEMI JOIN touched USING (cluster_id))"""


def _semdedup_sql(tag: str, src: str) -> str:
    """The SemDeDup decision tier as oracle CTEs over an assignment
    source (`src` is a CTE name or parenthesized subquery with columns
    vec_id, cluster_id, cos): capped_{tag} rank-caps each cluster's
    members, pairs_{tag} scores within-cluster pairs by exact decimal
    dot products, dups_{tag} is the (vec_id, dup_of) drop list — the
    SQL twin of _semdedup_dups, factored so q120's two tiers and
    q134's two models share one definition."""
    return f"""capped_{tag} AS (
  SELECT vec_id, cluster_id, cos FROM (
    SELECT vec_id, cluster_id, cos, row_number() OVER (
             PARTITION BY cluster_id ORDER BY cos DESC, vec_id) AS rn
    FROM {src}) WHERE rn <= {_KM_MEMBER_CAP}
),
pairs_{tag} AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(sum(CAST(ea.x * eb.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
  FROM capped_{tag} a
  JOIN capped_{tag} b ON b.cluster_id = a.cluster_id AND a.vec_id < b.vec_id
  JOIN elems ea ON ea.vec_id = a.vec_id
  JOIN elems eb ON eb.vec_id = b.vec_id AND eb.pos = ea.pos
  GROUP BY a.vec_id, b.vec_id
),
dups_{tag} AS (
  SELECT p.vec_b AS vec_id, min(p.vec_a) AS dup_of
  FROM pairs_{tag} p
  JOIN norms na ON na.vec_id = p.vec_a
  JOIN norms nb ON nb.vec_id = p.vec_b
  WHERE p.dot / (na.nrm * nb.nrm) >= {_KM_DUP_COS}
  GROUP BY p.vec_b
)"""


# the decision (pair-scan) half appended for q120; q133's drift report
# reuses the assignment half alone
_IKM_SQL_CTES = f"""{_IKM_ASSIGN_CTES},
{_semdedup_sql("new", "tmem")},
{_semdedup_sql("old", "(SELECT * FROM tmem WHERE NOT is_batch)")}"""


@register(
    "q120_incremental_semdedup",
    tags=("datapipe", "dedup", "embedding", "clustering", "incremental"),
    oracle=f"""
WITH {_IKM_SQL_CTES}
SELECT t.vec_id, t.cluster_id, round(t.cos, 9) AS centroid_cos, t.is_batch,
       dn.dup_of IS NULL AS is_kept, dn.dup_of,
       CASE WHEN t.is_batch THEN NULL ELSE do_.dup_of IS NULL END AS was_kept,
       coalesce(NOT t.is_batch AND do_.dup_of IS NULL
                AND dn.dup_of IS NOT NULL, FALSE) AS newly_pruned
FROM tmem t
LEFT JOIN dups_new dn ON dn.vec_id = t.vec_id
LEFT JOIN dups_old do_ ON do_.vec_id = t.vec_id
""",
)
def q120_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup maintenance over the embedding tier: the
    day's batch (vec_id % 10 >= 8, the q13/q114 ingestion split)
    assigns against the STORED history-fitted k-means centroids — one
    broadcast map pass, no refit — and the within-cluster semantic
    pair scan re-runs ONLY over clusters the batch touched. Output is
    the merge-replay report per touched-cluster member: the new
    keep/drop decision, the previously-stored one, and `newly_pruned`
    — history docs a batch arrival demoted (the rows a downstream
    canonical corpus must replay, the q116 shape for embeddings).

    Exactness (the q114 argument, semantic tier): with the model held
    fixed, per-vector assignment is independent of every other vector,
    and a cluster's decision set depends only on its own capped member
    ranking — a cluster with no batch member has the identical member
    set it had yesterday, hence identical decisions. So incremental
    maintenance (stored decisions for untouched clusters + this
    query's re-scan of touched ones) is bit-equal to a full pass under
    the stored model: asserted both ways in
    tests/test_incremental_semdedup.py, including an engineered corpus
    where clusters receive no batch member. The model itself refreshes
    by PERIODIC refit (q25's plan) — folding arrivals into centroids
    per-batch would touch every cluster and make the incremental
    structure vacuous; `newly_pruned` volume and per-cluster batch
    share are the refit trigger.

    Scale shape: the history fit is the q17/q25 front (broadcast
    FIXED-k centroids, map-side argmax; at production scale it is read
    back from storage, not recomputed — the q114 precedent for
    deriving state in-plan so the query stays self-contained). The
    assignment is persist()ed once (three consumers: touched set,
    new-decision tier, stored-decision tier — the q25 barrier
    rationale). `touched` is at most k rows, so the semi join
    broadcasts; both pair tiers run AFTER the touched semi-join and
    under the _KM_MEMBER_CAP rank filter (map-side WindowGroupLimit),
    so per-cluster pair cost is capped and clusters the batch never
    touches contribute ZERO pair work — at daily-crawl scale that is
    the difference between re-scoring the whole corpus's clusters and
    the batch's neighborhood.
    """
    emb = _km_emb(spark, sf_dir)
    hist = emb.filter(_inc_is_hist(F.col("vec_id")))
    a1h = _km_assign_round(hist, _km_seed_centroids(hist))
    stored_cent = _km_update_centroids(a1h)
    assign = persist_tracked(
        _km_assign_round(emb, stored_cent).withColumn(
            "is_batch", ~_inc_is_hist(F.col("vec_id"))
        )
    )
    touched = assign.filter("is_batch").select("cluster_id").distinct()
    tmem = assign.join(F.broadcast(touched), "cluster_id", "semi")
    dups_new = _semdedup_dups(tmem)
    dups_old = _semdedup_dups(tmem.filter(~F.col("is_batch")))
    was_kept = F.when(F.col("is_batch"), F.lit(None).cast("boolean")).otherwise(
        F.col("_old_dup").isNull()
    )
    return (
        tmem.join(dups_new, "vec_id", "left")
        .join(
            dups_old.select(F.col("vec_id"), F.col("dup_of").alias("_old_dup")),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            "cluster_id",
            F.round("cos", 9).alias("centroid_cos"),
            "is_batch",
            F.col("dup_of").isNull().alias("is_kept"),
            "dup_of",
            was_kept.alias("was_kept"),
            (
                ~F.col("is_batch")
                & F.col("_old_dup").isNull()
                & F.col("dup_of").isNotNull()
            ).alias("newly_pruned"),
        )
    )


def _semdedup_dups(members: DataFrame) -> DataFrame:
    """(vec_id, dup_of) SemDeDup decisions over a (vec_id, cluster_id,
    cos, emb, nrm) member frame: every in-cluster pair among the
    _KM_MEMBER_CAP most central members with cosine >= _KM_DUP_COS
    marks the higher id a duplicate of its lowest such partner. The one
    decision rule q25, q120's new- and stored-state scans, q134's two
    tiers and streaming/semdedup.py all call (a second copy would let
    the churn columns drift from it). The pre-gate inside the tier also
    shrinks q134's duplicated-dot residual to the survivor set: the two
    tiers' shared pair cosines are only ever folded exactly for actual
    near-duplicates (sf0.1: 0.22% of pairs), so cross-tier dot sharing
    has nothing left to save (measured in OPTIMIZATION_r15.md #1)."""
    order = [F.col("cos").desc(), "vec_id"]
    return (
        cosine_pair_tier(members, "cluster_id", order, _KM_MEMBER_CAP, _KM_DUP_COS)
        .groupBy(F.col("p.vec_b").alias("vec_id"))
        .agg(F.min("p.vec_a").alias("dup_of"))
    )


@register(
    "q133_semantic_drift",
    tags=("datapipe", "embedding", "clustering", "incremental", "quality"),
    oracle=f"""
WITH {_IKM_ASSIGN_CTES}
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT)
         AS n_batch_members,
       CAST(sum(CASE WHEN is_batch THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         AS batch_share,
       CASE WHEN count(CASE WHEN NOT is_batch THEN 1 END) > 0 THEN
         CAST(sum(CASE WHEN NOT is_batch
                       THEN CAST(round(cos, 9) AS DECIMAL(28,12)) END) AS DOUBLE)
           / count(CASE WHEN NOT is_batch THEN 1 END) END AS mean_cos_hist,
       CAST(sum(CASE WHEN is_batch
                     THEN CAST(round(cos, 9) AS DECIMAL(28,12)) END) AS DOUBLE)
         / sum(CASE WHEN is_batch THEN 1 ELSE 0 END) AS mean_cos_batch,
       CASE WHEN count(CASE WHEN NOT is_batch THEN 1 END) > 0 THEN
         CAST(sum(CASE WHEN is_batch
                       THEN CAST(round(cos, 9) AS DECIMAL(28,12)) END) AS DOUBLE)
           / sum(CASE WHEN is_batch THEN 1 ELSE 0 END)
         - CAST(sum(CASE WHEN NOT is_batch
                         THEN CAST(round(cos, 9) AS DECIMAL(28,12)) END) AS DOUBLE)
           / count(CASE WHEN NOT is_batch THEN 1 END) END AS cos_drift
FROM tmem GROUP BY cluster_id
""",
)
def q133_semantic_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REFIT-TRIGGER report the incremental semantic tier's fixed
    stored model needs (q120's documented operating rule: the model
    refreshes by periodic refit, and THIS is the signal): per
    batch-touched cluster, member/batch counts, the batch share, and
    the drift between the batch's and history's mean centroid cosine —
    a cluster whose arrivals sit systematically farther from (or off-
    axis to) its stored centroid than its history did is the one a
    refit re-seats. Assignment-level only: no pair scan, so the report
    costs one assignment pass over the corpus regardless of duplicate
    volume — cheap enough to run on every batch, unlike the decisions.

    Determinism: means are exact-decimal sums of 9-rounded cosines
    divided by counts (the q17 rule); batch_share and cos_drift are
    single IEEE operations on those deterministic doubles. mean_cos_hist
    and cos_drift are NULL for pure-batch clusters (no stored baseline).

    Scale shape: the q120 front (broadcast fixed-k stored centroids,
    map-side argmax), ONE persisted assignment feeding the touched set
    and the report aggregation, everything downstream k-bounded."""
    emb = _km_emb(spark, sf_dir)
    hist = emb.filter(_inc_is_hist(F.col("vec_id")))
    cent = _km_update_centroids(_km_assign_round(hist, _km_seed_centroids(hist)))
    assign = persist_tracked(
        _km_assign_round(emb, cent).withColumn(
            "is_batch", ~_inc_is_hist(F.col("vec_id"))
        )
    )
    touched = assign.filter("is_batch").select("cluster_id").distinct()
    tmem = assign.join(F.broadcast(touched), "cluster_id", "semi")
    rcos = dec12(F.round(F.col("cos"), 9))
    batch_flag = F.col("is_batch").cast("int")
    n_hist = F.count(F.when(~F.col("is_batch"), F.lit(1)))
    n_batch = F.sum(batch_flag)
    mean_hist = F.sum(F.when(~F.col("is_batch"), rcos)).cast("double") / n_hist
    mean_batch = F.sum(F.when(F.col("is_batch"), rcos)).cast("double") / n_batch
    return tmem.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        n_batch.cast("bigint").alias("n_batch_members"),
        (n_batch.cast("double") / F.count(F.lit(1))).alias("batch_share"),
        F.when(n_hist > 0, mean_hist).alias("mean_cos_hist"),
        mean_batch.alias("mean_cos_batch"),
        F.when(n_hist > 0, mean_batch - mean_hist).alias("cos_drift"),
    )


# ---------------------------------------------------------------------------
# q134 — the refit TRANSITION (round-13 verdict "next round" #1: q133 says
# WHEN to refit; this query executes the switch). The q116 merge-replay
# pattern at the MODEL level: fit the new model on history+batch (the
# q17/q25 full-corpus plan), diff old-model vs new-model assignments and
# SemDeDup decisions, and emit exactly the rows a downstream canonical
# table must replay — reassignments and flipped keep/drop decisions.

_REFIT_REPORT_SQL = f"""
SELECT o.vec_id,
       o.cluster_id AS cluster_old,
       n.cluster_id AS cluster_new,
       o.cluster_id <> n.cluster_id AS reassigned,
       do_.dup_of IS NULL AS was_kept,
       dn.dup_of IS NULL AS is_kept,
       do_.dup_of AS dup_of_old,
       dn.dup_of AS dup_of_new,
       round(n.cos, 9) AS centroid_cos_new,
       CASE WHEN do_.dup_of IS NULL AND dn.dup_of IS NOT NULL THEN 'prune'
            WHEN do_.dup_of IS NOT NULL AND dn.dup_of IS NULL THEN 'reinstate'
            ELSE 'move' END AS action
FROM assign_old o
JOIN assign n ON n.vec_id = o.vec_id
LEFT JOIN dups_oldm do_ ON do_.vec_id = o.vec_id
LEFT JOIN dups_newm dn ON dn.vec_id = o.vec_id
WHERE o.cluster_id <> n.cluster_id
   OR (do_.dup_of IS NULL) <> (dn.dup_of IS NULL)"""


@register(
    "q134_semantic_refit",
    tags=("datapipe", "dedup", "embedding", "clustering", "incremental"),
    # The oracle computes BOTH decision tiers over the FULL corpus with
    # no scan-set restriction — it is the semantic spec. The Spark plan
    # bounds pair work to the changed-or-over-cap cluster set; the
    # driver's cell-exact compare against this unrestricted oracle is
    # therefore a per-round proof that the bounding is lossless.
    oracle=f"""
WITH {_KM_SQL_CTES},
{_IKM_OLD_MODEL_CTES},
{_semdedup_sql("newm", "assign")},
{_semdedup_sql("oldm", "(SELECT vec_id, cluster_id, cos FROM assign_old)")}
{_REFIT_REPORT_SQL}
""",
)
def q134_semantic_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic-model REFIT transition report: the morning q133's
    drift trigger trips, the pipeline refits k-means on history+batch
    (the q17/q25 full-corpus plan) and must migrate every downstream
    table from the OLD stored model (history-fit centroids, the q120
    state) to the NEW one. This query diffs the two models end to end —
    assignments AND SemDeDup keep/drop decisions — and emits the
    replay rows: one row per vector that was reassigned
    (cluster_old <> cluster_new) or whose decision flipped, with the
    old/new cluster, old/new representative (dup_of), and the replay
    action a canonical table applies ('prune': was kept, now a
    duplicate; 'reinstate': was a duplicate, now kept; 'move':
    decision stable but the vector changed clusters).

    Exactness of the bounded pair scan (the q120 argument at the model
    level): pairwise cosines are MODEL-FREE (they compare vectors, not
    centroids), so a cluster id c whose member set is identical under
    both models — no member moved out (else c is some mover's
    cluster_old) and none moved in (else c is a mover's cluster_new) —
    and whose size is within _KM_MEMBER_CAP has the identical capped
    member set, hence identical pairs, hence identical decisions under
    both models: no member of c can appear in the report. Both pair
    tiers therefore run behind a broadcast semi-join on the CHANGED-OR-
    OVER-CAP cluster set (movers' old+new cluster ids, plus any
    over-cap cluster, where the cos-ranked capped subset may differ
    between models even with stable membership). The set is k-bounded
    (cluster ids), so the semi-join broadcasts. The DuckDB oracle
    computes both tiers UNRESTRICTED — the driver's cell-exact match is
    the standing proof the bound is lossless; the engineered-corpus
    parity test (tests/test_semantic_refit.py) pins it per-case.

    Scale shape: two assignment fronts (each a broadcast fixed-k cross
    join + map-side argmax, the q17 budget), each persisted once (the
    old feeds the diff + its pair tier; the new feeds the diff, its
    pair tier, and the centroid update that produced it), one
    vec_id-keyed diff join (linear, the only corpus-shaped shuffle),
    pair tiers capped AND gated to changed clusters — a drift episode
    that touches 3 of k clusters re-scores 3 clusters, not the corpus.
    Output is churn-sized, not corpus-sized.
    """
    # The screened frame is persisted ONCE (guide §5): before the
    # round-14 barrier, the two seed top-ks, the two model fronts'
    # main sides, and every broadcast centroid build re-derived the
    # scan + screen + corpus repartition independently — 8 executions
    # of the same subtree inside one query.
    emb = _km_emb(spark, sf_dir)
    # OLD model: the stored history-fit centroids (q120's state),
    # assigning the full corpus
    hist = emb.filter(_inc_is_hist(F.col("vec_id")))
    stored_cent = _km_update_centroids(_km_assign_round(hist, _km_seed_centroids(hist)))
    old_assign = persist_tracked(_km_assign_round(emb, stored_cent))
    # NEW model: the full refit (q25's kmeans_assignments plan, inlined
    # over the shared screened frame). a1 is persisted for the same
    # reason as in kmeans_assignments: the centroid update's broadcast
    # build and the round-2 main side would each re-run the round-1
    # argmax otherwise.
    a1 = persist_tracked(_km_assign_round(emb, _km_seed_centroids(emb)))
    new_assign = persist_tracked(
        _km_assign_round(a1.select("vec_id", "emb", "nrm"), _km_update_centroids(a1))
    )
    # changed-or-over-cap cluster ids (k-bounded — see docstring)
    o_slim = old_assign.select("vec_id", F.col("cluster_id").alias("c_old"))
    n_slim = new_assign.select("vec_id", F.col("cluster_id").alias("c_new"))
    moved = o_slim.join(n_slim, "vec_id").filter(F.col("c_old") != F.col("c_new"))
    changed = moved.select(
        F.explode(F.array("c_old", "c_new")).alias("cluster_id")
    ).distinct()
    overcap = (
        old_assign.groupBy("cluster_id").count()
        .unionByName(new_assign.groupBy("cluster_id").count())
        .filter(F.col("count") > _KM_MEMBER_CAP)
        .select("cluster_id")
        .distinct()
    )
    # k-bounded rows, but the LINEAGE includes the corpus-sized
    # old⋈new diff join — persist so the two pair tiers' broadcast
    # builds don't each re-run it (guide §5).
    scan_set = persist_tracked(changed.unionByName(overcap).distinct())
    dups_old = _semdedup_dups(old_assign.join(F.broadcast(scan_set), "cluster_id", "semi"))
    dups_new = _semdedup_dups(new_assign.join(F.broadcast(scan_set), "cluster_id", "semi"))
    was_kept = F.col("dup_of_old").isNull()
    is_kept = F.col("dup_of_new").isNull()
    return (
        old_assign.select("vec_id", F.col("cluster_id").alias("cluster_old"))
        .join(
            new_assign.select(
                "vec_id", F.col("cluster_id").alias("cluster_new"), "cos"
            ),
            "vec_id",
        )
        .join(dups_old.select("vec_id", F.col("dup_of").alias("dup_of_old")), "vec_id", "left")
        .join(dups_new.select("vec_id", F.col("dup_of").alias("dup_of_new")), "vec_id", "left")
        .filter(
            (F.col("cluster_old") != F.col("cluster_new")) | (was_kept != is_kept)
        )
        .select(
            "vec_id",
            "cluster_old",
            "cluster_new",
            (F.col("cluster_old") != F.col("cluster_new")).alias("reassigned"),
            was_kept.alias("was_kept"),
            is_kept.alias("is_kept"),
            "dup_of_old",
            "dup_of_new",
            F.round("cos", 9).alias("centroid_cos_new"),
            F.when(was_kept & ~is_kept, F.lit("prune"))
            .when(~was_kept & is_kept, F.lit("reinstate"))
            .otherwise(F.lit("move"))
            .alias("action"),
        )
    )
