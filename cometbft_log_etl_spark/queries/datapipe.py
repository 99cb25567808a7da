"""Training-data pipeline operators over `documents` / `embeddings`:
deduplication, text analysis, and embedding similarity search.

These go beyond the reference's own surface (BASELINE.json north star):
the operators a 100 TB LLM-data pipeline needs, built Spark-first.
Determinism rules as in queries/_det.py; the portable cross-engine hash
is the md5-hex-prefix integer (see q129_hash_codecs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load
from . import register
from ._det import SQL_EMB_FINITE as _SQL_EMB_FINITE
from ._det import SQL_EMB_SRC
from ._pairs import in_array_pairs
from ._topk import global_topk

# Portable 32-bit-ish hash: int(md5(s)[:8], 16). Identical in Spark
# (conv) and DuckDB (0x-prefix cast); used as the MinHash base hash.
def _h32(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 8), 16, 10).cast("bigint")


_SQL_H32 = "CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


@register(
    "q28_exact_dedup",
    tags=("datapipe", "dedup"),
    oracle="""
SELECT md5(text) AS text_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies,
       min(n_chars) AS n_chars
FROM documents
GROUP BY md5(text)
""",
)
def q28_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.

    At 100 TB this is a single shuffle on the hash; the md5 is computed
    map-side so the shuffle key is 32 bytes, not the document text.
    """
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    )


@register(
    "q30_fingerprint_dedup",
    tags=("datapipe", "dedup"),
    oracle="""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS fingerprint
  FROM documents
)
SELECT fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS keep_doc_id,
       max(doc_id) AS max_doc_id
FROM fp
GROUP BY fingerprint
HAVING count(*) > 1
""",
)
def q30_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint near-dup clustering: hash of the first 5 tokens
    (a cheap document fingerprint), keep clusters with >1 member."""
    docs = load(spark, sf_dir, "documents")
    # concat_ws SWALLOWS a null array (→ md5('')), which would lump
    # null-text docs into the empty-text fingerprint cluster; the when()
    # restores SQL's null propagation (md5(NULL) = NULL) so both engines
    # group null-text docs under a NULL fingerprint instead
    fp = F.when(
        F.col("text").isNotNull(),
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5)).cast("binary")),
    )
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "q52_token_stats",
    tags=("datapipe", "text"),
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS n_stopwords
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens,
       sum(n_chars)::BIGINT AS total_chars,
       CAST(sum(n_stopwords) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE) AS stopword_ratio
FROM tok
GROUP BY lang
""",
)
def q52_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + stopword-ratio quality signal per language."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tok = docs.select(
        "lang",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.isin("the", "a"))).alias("n_stopwords"),
    )
    return tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_stopwords").cast("double") / F.sum("n_tokens").cast("double")).alias("stopword_ratio"),
    )


def quality_features(docs: DataFrame) -> DataFrame:
    """Pure quality-feature transform (length, lexical diversity, band).

    Projection/filter only — works identically on a batch DataFrame and
    a streaming one (see streaming/curation.py), the same
    batch/stream-parity-by-construction pattern as the log path
    (streaming/ingest.py)."""
    toks = F.split("text", " ")
    feat = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
    )
    uniq_ratio = F.col("n_uniq_tokens").cast("double") / F.col("n_tokens")
    return feat.select(
        "doc_id",
        "lang",
        "n_chars",
        "n_tokens",
        "n_uniq_tokens",
        uniq_ratio.alias("uniq_ratio"),
        F.when(F.col("n_tokens") < 30, "short")
        .when(uniq_ratio < 0.35, "repetitive")
        .otherwise("ok")
        .alias("quality_band"),
    )


@register(
    "q53_quality_score",
    tags=("datapipe", "text"),
    oracle="""
WITH feat AS (
  SELECT doc_id, lang, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens
  FROM documents
)
SELECT doc_id, lang, n_chars, n_tokens, n_uniq_tokens,
       CAST(n_uniq_tokens AS DOUBLE) / n_tokens AS uniq_ratio,
       CASE WHEN n_tokens < 30 THEN 'short'
            WHEN CAST(n_uniq_tokens AS DOUBLE) / n_tokens < 0.35 THEN 'repetitive'
            ELSE 'ok' END AS quality_band
FROM feat
""",
)
def q53_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: length, lexical diversity, band."""
    return quality_features(load(spark, sf_dir, "documents"))


@register(
    "q54_lang_confusion",
    tags=("datapipe", "text", "langid"),
    oracle="""
WITH pred AS (
  SELECT doc_id, lang,
         CASE WHEN contains(text, ' the ') AND contains(text, ' a ') THEN 'en'
              WHEN contains(text, 'vector') THEN 'tech'
              ELSE 'other' END AS predicted
  FROM documents
)
SELECT lang, predicted, count(*) AS n_docs
FROM pred
GROUP BY lang, predicted
""",
)
def q54_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID (token-presence n-gram heuristic) scored as a
    confusion matrix against the labeled `lang` column."""
    docs = load(spark, sf_dir, "documents")
    predicted = (
        F.when(F.contains("text", F.lit(" the ")) & F.contains("text", F.lit(" a ")), "en")
        .when(F.contains("text", F.lit("vector")), "tech")
        .otherwise("other")
    )
    return (
        docs.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _exploded_embeddings(spark: SparkSession, sf_dir: str, id_alias: str, filter_expr=None) -> DataFrame:
    from ..session import default_parallelism

    from ._det import finite_embeddings

    # same screen as the oracles' SQL_EMB_SRC: null / non-finite
    # vectors don't exist for embedding math
    emb = finite_embeddings(load(spark, sf_dir, "embeddings"))
    if filter_expr is not None:
        emb = emb.filter(filter_expr)
    # Spread vectors across the cluster BEFORE the explode: the downstream
    # broadcast-joined dot products and norm aggregates all execute in the
    # exploded side's scan stage, which is one task when the table is a
    # single parquet row group. The exchange moves only the compact
    # array<float> rows; at real scale file splits make it a no-op cost.
    return (
        emb.repartition(default_parallelism())
        .select(F.col("vec_id").alias(id_alias), F.posexplode("embedding").alias("pos", "x"))
        .select(id_alias, "pos", F.col("x").cast("double").alias("x"))
    )


# DuckDB: unnest(generate_series(...)) in the SELECT list expands rows
# (lateral generate_series over a column is not supported).
# The source is screened through SQL_EMB_SRC: vectors that are NULL or
# carry a non-finite component don't exist for embedding math (their
# decimal-cast terms would error in DuckDB and NULL-poison Spark's
# folds) — mirrored Spark-side by _det.finite_embeddings.
_SQL_EXPLODE = f"""
  SELECT {{id_alias}}, i - 1 AS pos, CAST(emb[i] AS DOUBLE) AS x
  FROM (
    SELECT vec_id AS {{id_alias}}, embedding AS emb,
           unnest(generate_series(1, len(embedding))) AS i
    FROM {SQL_EMB_SRC}
    {{where}}
  )
"""


@register(
    "q113_subword_budget",
    tags=("datapipe", "text", "tokenize"),
    oracle="""
WITH tok AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), t -> t <> '') AS toks
  FROM documents
),
counts AS (
  SELECT doc_id, lang,
         len(toks) AS n_words,
         list_aggregate(list_transform(toks, t -> (len(t) + 3) // 4), 'sum') AS n_subwords
  FROM tok
)
SELECT lang,
       count(*) AS n_docs,
       sum(n_words)::BIGINT AS total_words,
       sum(n_subwords)::BIGINT AS total_subwords,
       CAST(sum(n_subwords) AS DOUBLE) / sum(n_words) AS subwords_per_word
FROM counts
GROUP BY lang
""",
)
def q113_subword_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace + BPE-ish: regex word split, then each
    word costs ceil(len/4) subword units — a deterministic stand-in for
    BPE merge counts that keeps the budget arithmetic (tokens-per-doc,
    subwords-per-word) exactly checkable cross-engine."""
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", "[^a-zA-Z0-9]+"), lambda t: t != "")
    counts = docs.select(
        "lang",
        F.size(toks).alias("n_words"),
        F.aggregate(
            F.transform(toks, lambda t: (F.length(t) + 3).cast("long") / F.lit(4)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long"),
        ).alias("n_subwords"),
    )
    return counts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_subwords").cast("bigint").alias("total_subwords"),
        (F.sum("n_subwords").cast("double") / F.sum("n_words")).alias("subwords_per_word"),
    )


@register(
    "q100_rolling_fingerprint",
    tags=("datapipe", "dedup", "fingerprint"),
    oracle=f"""
WITH tok AS (
  -- a NULL text has no token sequence to fingerprint; excluded in both
  -- engines (their NULL-vs-[seed] fold semantics differ)
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE text IS NOT NULL
),
fp AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(7 AS BIGINT),
                        list_transform(toks, t -> {_SQL_H32.format(expr="t")})),
           (acc, h) -> (acc * 31 + h) % 2147483647) AS fingerprint
  FROM tok
)
SELECT fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM fp
GROUP BY fingerprint
""",
)
def q100_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    the word-hash sequence (seed 7, base 31, mod 2^31−1) — unlike the
    set-based MinHash/SimHash signatures, word ORDER changes the
    fingerprint, so equal fingerprints mean equal token sequences. One
    map-side fold per doc, shuffle on an 8-byte key."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    fp = F.aggregate(
        F.transform(toks, lambda t: _h32(t)),
        F.lit(7).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % 2_147_483_647,
    )
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


@register(
    "q04_cosine_topk",
    headline=True,
    tags=("datapipe", "similarity"),
    oracle=f"""
WITH probe AS ({_SQL_EXPLODE.format(id_alias="probe_id", where="WHERE vec_id < 5")}),
cand AS ({_SQL_EXPLODE.format(id_alias="cand_id", where="")}),
dots AS (
  SELECT p.probe_id, c.cand_id,
         CAST(sum(CAST(p.x * c.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
  FROM probe p JOIN cand c ON p.pos = c.pos
  WHERE p.probe_id <> c.cand_id
  GROUP BY p.probe_id, c.cand_id
),
norms AS (
  SELECT cand_id AS vec_id,
         sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
  FROM cand GROUP BY cand_id
),
scored AS (
  SELECT d.probe_id, d.cand_id,
         d.dot / (np.nrm * nc.nrm) AS cosine
  FROM dots d
  JOIN norms np ON np.vec_id = d.probe_id
  JOIN norms nc ON nc.vec_id = d.cand_id
)
SELECT probe_id, cand_id, round(cosine, 9) AS cosine, rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
)
WHERE rank <= 10
""",
)
def q04_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline.

    The dot product is an in-row zip_with + exact decimal fold
    (order-independent, bit-stable vs the oracle's exploded sum); the
    probe side is small by construction → broadcast, and the candidate
    side streams. The LSH-bucketed scale path is q86_ann_lsh
    (queries/neardup.py).
    """
    from ..session import default_parallelism
    from ._det import ddot12, dnrm12

    # Array-native scoring (the q39 pattern, queries/neardup.py): each
    # vector stays ONE row, the probe side (small by construction)
    # broadcasts with its norm folded map-side, and every probe-candidate
    # dot is a zip_with decimal fold in place — the same decimal terms as
    # the oracle's exploded SUM (decimal addition is exact, so fold order
    # can't change the result), with no per-dimension row blowup and NO
    # scoring shuffle: the only exchange left is the top-k window on
    # (probe_id, cosine). No corpus-sized table is built or broadcast.
    # PRECONDITION: fixed-dimension embeddings (q49's check screens).
    # NULL and non-finite embeddings are excluded from the index — the
    # oracle's CTEs go through the screened SQL_EMB_SRC; without this
    # Spark would rank the poisoned vectors as null-cosine candidates.
    from ._det import finite_embeddings

    emb = (
        finite_embeddings(load(spark, sf_dir, "embeddings"))
        .repartition(default_parallelism())
        .select("vec_id", F.col("embedding").alias("emb"), dnrm12("embedding").alias("nrm"))
    )
    probe = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("pemb"), F.col("nrm").alias("pnrm")
    )
    scored = (
        emb.select(F.col("vec_id").alias("cand_id"), F.col("emb").alias("cemb"), F.col("nrm").alias("cnrm"))
        .crossJoin(F.broadcast(probe))
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select(
            "probe_id",
            "cand_id",
            (ddot12("pemb", "cemb") / (F.col("pnrm") * F.col("cnrm"))).alias("cosine"),
        )
    )
    from pyspark.sql import Window as W

    ranked = scored.withColumn(
        "rank", F.row_number().over(W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), "cand_id"))
    )
    return ranked.filter(F.col("rank") <= 10).select(
        "probe_id", "cand_id", F.round("cosine", 9).alias("cosine"), "rank"
    )


@register(
    "q27_embedding_stats",
    tags=("datapipe", "similarity"),
    oracle=f"""
WITH elems AS ({_SQL_EXPLODE.format(id_alias="vec_id", where="")}),
norms AS (
  SELECT e.vec_id,
         sqrt(CAST(sum(CAST(e.x * e.x AS DECIMAL(28,12))) AS DOUBLE)) AS nrm,
         count(*) AS dim
  FROM elems e GROUP BY e.vec_id
)
SELECT emb.label,
       count(*) AS n_vecs,
       min(n.dim) AS min_dim, max(n.dim) AS max_dim,
       CAST(sum(CAST(round(n.nrm, 9) AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mean_norm
FROM embeddings emb JOIN norms n ON emb.vec_id = n.vec_id
GROUP BY emb.label
""",
)
def q27_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding health stats (dimension check + mean L2 norm)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    elems = _exploded_embeddings(spark, sf_dir, "vec_id")
    norms = elems.groupBy("vec_id").agg(
        F.sqrt(F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).cast("double")).alias("nrm"),
        F.count(F.lit(1)).alias("dim"),
    )
    return (
        emb.join(norms, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("dim").alias("min_dim"),
            F.max("dim").alias("max_dim"),
            # Post-sqrt doubles are rounded to 9 decimals before the decimal
            # cast: Spark casts double→decimal via the shortest string repr
            # while DuckDB rounds the exact binary value, so an arbitrary
            # 17-digit double can round differently at scale 12.
            (F.sum(F.round("nrm", 9).cast("decimal(28,12)")).cast("double") / F.count(F.lit(1))).alias(
                "mean_norm"
            ),
        )
    )


# --------------------------------------------------------------------------
# q87/q88/q89/q90/q38: filtering / sampling / packing / contamination — the rest of
# the training-data curation loop.

_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z]{2,}"
_PHONE_RE = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}"


@register(
    "q102_pii_scrub",
    tags=("datapipe", "text", "pii"),
    oracle=f"""
WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0
                      THEN ' contact user' || doc_id || '@example.com now'
                      WHEN doc_id % 3 = 1
                      THEN ' call +12-345-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
                      ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
       len(text) - len(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                      '{_PHONE_RE}', '<PHONE>', 'g')) AS n_chars_removed
FROM aug
""",
)
def q102_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (email/phone → typed placeholders).

    The corpus is synthetic word-soup, so deterministic PII is injected
    per doc_id IN BOTH ENGINES (pure string concat) and the real regex
    machinery — count + global replace — runs over the augmented text.
    Fully columnar (JVM regex in codegen, no UDF); at 100 TB this is a
    map-only pass, no shuffle at all.
    """
    docs = load(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(
                    F.lit(" call +12-345-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                    F.lit(" today"),
                ),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_PHONE_RE),
        F.lit("<PHONE>"),
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        scrubbed.alias("scrubbed"),
        (F.length("text") - F.length(scrubbed)).alias("n_chars_removed"),
    )


@register(
    "q103_repetition_ratio",
    tags=("datapipe", "text", "quality"),
    oracle="""
WITH tk AS MATERIALIZED (
  -- split ONCE per row: string_split(text) inside the lambda re-splits
  -- per gram — O(tokens^2) per row (the round-11 q09 lesson)
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                                       i -> t[i] || ' ' || t[i + 1])) AS g
  FROM tk
  WHERE len(t) >= 2
),
stats AS (
  SELECT doc_id, count(*) AS n_grams, count(DISTINCT g) AS n_distinct
  FROM grams GROUP BY doc_id
)
SELECT doc_id, n_grams, n_distinct,
       round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 9) AS dup_gram_frac,
       (1.0 - CAST(n_distinct AS DOUBLE) / n_grams) > 0.5 AS is_repetitive
FROM stats
""",
)
def q103_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: duplicate word-2-gram fraction.

    Boilerplate and generation loops show up as a high duplicate-n-gram
    fraction. Grams are EXPLODED to rows (codegen string concat) and
    reduced with count + count(DISTINCT) — partial-aggregatable, one
    shuffle on doc_id; no per-row array materialization survives the
    exchange. The fraction is exact integer arithmetic divided once in
    DOUBLE, so both engines agree bit-for-bit.
    """
    docs = load(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    gram = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(" ", F.element_at("toks", i), F.element_at("toks", i + 1)),
        )
    )
    stats = (
        t.select("doc_id", gram.alias("g"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_distinct(F.col("g")).alias("n_distinct"),
        )
    )
    dup = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams")
    return stats.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.round(dup, 9).alias("dup_gram_frac"),
        (dup > 0.5).alias("is_repetitive"),
    )


@register(
    "q105_stratified_sample",
    tags=("datapipe", "sampling"),
    oracle=f"""
WITH rated AS (
  SELECT doc_id, lang,
         CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 50 ELSE 30 END AS rate_pct,
         {_SQL_H32.format(expr="'sample:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM documents
)
SELECT doc_id, lang, bucket FROM rated WHERE bucket < rate_pct
""",
)
def q105_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates via a
    salted portable hash, not RNG.

    Domain/language mixing for a training corpus must be reproducible
    and cluster-order-independent: hash(doc_id) mod 100 against a
    per-stratum rate gives exact, re-runnable sampling with NO shuffle
    (map-only filter — at 100 TB the sample never materializes the
    dropped rows anywhere). Rates: en 10%, zh 50%, default 30%.
    """
    docs = load(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 10).when(F.col("lang") == "zh", 50).otherwise(30)
    )
    bucket = _h32(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))) % 100
    return (
        docs.select("doc_id", "lang", rate.alias("rate_pct"), bucket.alias("bucket"))
        .filter(F.col("bucket") < F.col("rate_pct"))
        .select("doc_id", "lang", "bucket")
    )


_PACK_CAPACITY = 2048  # tokens per packed training sequence


@register(
    "q107_sequence_packing",
    tags=("datapipe", "packing", "window"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents
),
placed AS (
  SELECT doc_id, lang, n_tokens,
         CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens) // {_PACK_CAPACITY} AS BIGINT) AS bin_id
  FROM toks
)
SELECT lang, bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(n_tokens) AS DOUBLE) / {_PACK_CAPACITY}, 9) AS fill_ratio
FROM placed
GROUP BY lang, bin_id
""",
)
def q107_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to fixed token-capacity bins by
    cumulative offset, per language stream.

    The pretraining packing shape: docs are laid out in deterministic
    (lang, doc_id) order and a doc starts the bin its cumulative offset
    falls into — pure window arithmetic, no sequential state. Each lang
    partition packs independently (the window never goes global, so at
    100 TB parallelism = number of streams; sub-partition by
    (lang, shard) for more). Capacity 2048 whitespace tokens.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens"))
    cum = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    placed = toks.withColumn(
        "bin_id",
        ((F.sum("n_tokens").over(cum) - F.col("n_tokens")) / _PACK_CAPACITY).cast("bigint"),
    )
    return placed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.sum("n_tokens").cast("double") / _PACK_CAPACITY, 9).alias("fill_ratio"),
    )


@register(
    "q38_contamination_screen",
    tags=("datapipe", "contamination"),
    oracle=f"""
WITH bench AS (
  SELECT DISTINCT
         {_SQL_H32.format(expr="sh")} AS h
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 4),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                                      t[i+3] || ' ' || t[i+4])) AS sh
    -- split once per row (the round-11 q09 lesson)
    FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id < 20)
    WHERE len(t) >= 5
  )
),
cand AS (
  SELECT doc_id, {_SQL_H32.format(expr="sh")} AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 4),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                                      t[i+3] || ' ' || t[i+4])) AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
          WHERE doc_id >= 20)
    WHERE len(t) >= 5
  )
)
SELECT c.doc_id,
       count(DISTINCT c.h) AS n_shared_shingles
FROM cand c JOIN bench b ON c.h = b.h
GROUP BY c.doc_id
""",
)
def q38_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: flag corpus docs sharing any
    5-token shingle with a held-out benchmark set (here: doc_id < 20).

    The eval-leakage check every pretraining corpus needs. The
    benchmark side collapses to DISTINCT shingle hashes — small by
    construction — and broadcasts; candidates stream through a hash
    semi-join keyed on an 8-byte hash, then count their distinct hits.
    At 100 TB the corpus is touched once, map-side, with one shuffle on
    doc_id for the final count.
    """
    docs = load(spark, sf_dir, "documents")

    def shingles(df: DataFrame) -> DataFrame:
        t = df.select("doc_id", F.split("text", " ").alias("toks")).filter(
            F.size("toks") >= 5
        )
        sh = F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 4),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at("toks", i + k) for k in range(5)],
                ),
            )
        )
        return t.select("doc_id", sh.alias("sh")).select("doc_id", _h32(F.col("sh")).alias("h"))

    bench = shingles(docs.filter(F.col("doc_id") < 20)).select("h").distinct()
    cand = shingles(docs.filter(F.col("doc_id") >= 20))
    return (
        cand.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count_distinct("h").alias("n_shared_shingles"))
    )


_CHUNK_TOKENS = 64  # tokens per chunk
_CHUNK_STRIDE = 48  # overlap = _CHUNK_TOKENS - _CHUNK_STRIDE


@register(
    "q108_doc_chunking",
    tags=("datapipe", "chunking"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
starts AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t), {_CHUNK_STRIDE})) AS start
  FROM toks
)
SELECT doc_id,
       CAST((start - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS chunk_start,
       CAST(len(t[start:start + {_CHUNK_TOKENS} - 1]) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(t[start:start + {_CHUNK_TOKENS} - 1], ' ')) AS chunk_hash
FROM starts
""",
)
def q108_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking: 64-token chunks at a
    48-token stride (16-token overlap).

    The pretraining/RAG chunker as a pure columnar explode — chunk
    starts come from an integer sequence, the chunk text is an array
    slice + join, and only the md5 fingerprint leaves the operator (the
    chunk text itself never shuffles). Map-only at any scale; chunk
    counts follow document length, so no key can skew the stage.
    """
    docs = load(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("t"))
    exploded = t.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(1), F.size("t"), F.lit(_CHUNK_STRIDE))).alias("start"),
    )
    chunk = F.slice(F.col("t"), F.col("start"), F.lit(_CHUNK_TOKENS))
    return exploded.select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        F.col("start").cast("bigint").alias("chunk_start"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_hash"),
    )


@register(
    "q109_mixture_weights",
    tags=("datapipe", "sampling", "mixing"),
    oracle="""
WITH counts AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
weighted AS (
  SELECT source, n_docs, n_tokens,
         round(pow(CAST(n_tokens AS DOUBLE), 0.7), 9) AS raw_w
  FROM counts
)
SELECT source, n_docs, n_tokens,
       round(raw_w / sum(raw_w) OVER (), 9) AS mix_weight,
       CAST(round(10000 * raw_w / sum(raw_w) OVER ()) AS BIGINT) AS sample_budget
FROM weighted
""",
)
def q109_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing: per-source sampling weights
    w ∝ tokens^0.7 and a 10k-doc sample budget.

    The data-mixing step that decides how much of each domain a
    training run sees: sub-linear temperature (alpha = 0.7) upweights
    small domains relative to their raw share. One tiny aggregate per
    source plus an unpartitioned window over the handful of source rows
    — the global window is over domains, not documents, so it stays
    trivially small at any corpus size. pow() is rounded before the
    normalization so both engines divide identical doubles.
    """
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    weighted = counts.withColumn(
        "raw_w", F.round(F.pow(F.col("n_tokens").cast("double"), F.lit(0.7)), 9)
    )
    total = W.partitionBy()
    return weighted.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("raw_w") / F.sum("raw_w").over(total), 9).alias("mix_weight"),
        F.round(F.lit(10000) * F.col("raw_w") / F.sum("raw_w").over(total))
        .cast("bigint")
        .alias("sample_budget"),
    )


# --------------------------------------------------------------------------
# q93/q94/q95/q97 — retrieval / language-model / vocab operators for the curation
# loop: TF-IDF, BM25, bigram-LM likelihood, shingle novelty, vocab coverage.


@register(
    "q110_tfidf_terms",
    tags=("datapipe", "text", "retrieval"),
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(CAST(tf.tf AS DOUBLE)
               * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 9) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
  WHERE tf.doc_id < 50
)
SELECT doc_id, term, tf, df, tfidf, term_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS term_rank
  FROM scored
) WHERE term_rank <= 3
""",
)
def q110_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 most distinctive terms per document (scored docs
    bounded to doc_id < 50; statistics from the whole corpus).

    Scale shape: term frequencies and document frequencies are two
    key-partitioned aggregations (shuffle keys are terms — vocab-sized,
    not corpus-sized, after the map-side partial agg); the tf-df join is
    a shuffle join on the term key; N is a single-row broadcast. The
    top-3 rank filter compiles to a WindowGroupLimit, so only 3 rows
    per doc survive the map side of the final window. idf doubles are
    rounded before ranking so both engines order identical values.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 50)
        .join(df, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                9,
            ).alias("tfidf"),
        )
    )
    ranked = scored.withColumn(
        "term_rank",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
        ),
    )
    return ranked.filter(F.col("term_rank") <= 3).select(
        "doc_id", "term", "tf", "df", "tfidf", "term_rank"
    )


_BM25_QUERY = ("query", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "q123_bm25_search",
    tags=("datapipe", "text", "retrieval"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
dl AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
qtf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN {tuple(_BM25_QUERY)!r} GROUP BY doc_id, term
),
qdf AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM qtf GROUP BY term
),
contrib AS (
  SELECT qtf.doc_id, qtf.term,
         round(ln((stats.n_docs - qdf.df + 0.5) / (qdf.df + 0.5) + 1.0)
               * (qtf.tf * ({_BM25_K1} + 1.0))
               / (qtf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / stats.avgdl)), 9) AS c
  FROM qtf
  JOIN qdf ON qtf.term = qdf.term
  JOIN dl ON dl.doc_id = qtf.doc_id
  CROSS JOIN stats
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE) AS bm25,
         count(*) AS n_query_terms_hit
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, bm25, n_query_terms_hit, doc_rank FROM (
  SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS doc_rank
  FROM per_doc
) WHERE doc_rank <= 10
""",
)
def q123_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance search: top-10 documents for a fixed query term
    set (k1=1.2, b=0.75) — the retrieval scorer behind contamination
    screens and data-selection heuristics.

    Scale shape: per-doc lengths are one map-side-combinable aggregate;
    the query-term postings list (qtf) is pre-filtered to the query's
    terms BEFORE any shuffle, so the scored relation is |query| × docs-
    containing-term, not the corpus; corpus-level stats (N, avgdl) and
    per-term df are single-row/|query|-row broadcasts. The final global
    top-10 ranks the per-doc scores — bounded by docs matching at least
    one query term; add a score threshold pre-filter at 100 TB.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qtf = (
        tok.filter(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    qdf = qtf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    contrib = (
        qtf.join(F.broadcast(qdf), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * (F.col("tf") * (_BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                ),
                9,
            ).alias("c"),
        )
    )
    per_doc = contrib.groupBy("doc_id").agg(
        F.sum(F.col("c").cast("decimal(28,12)")).cast("double").alias("bm25"),
        F.count(F.lit(1)).alias("n_query_terms_hit"),
    )
    # Global top-10 as TakeOrderedAndProject + bounded rank window (the
    # shared gate-pinned shape — see _topk.global_topk's docstring).
    return global_topk(
        per_doc, 10, [F.col("bm25").desc(), "doc_id"], "doc_rank"
    ).select("doc_id", "bm25", "n_query_terms_hit", "doc_rank")


@register(
    "q124_bigram_lm_score",
    tags=("datapipe", "text", "lm"),
    oracle="""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
idx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM base
),
big AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM idx
),
c2 AS (
  SELECT w1, w2, count(*) AS n12 FROM big GROUP BY w1, w2
),
c1 AS (
  SELECT w1, count(*) AS n1 FROM big GROUP BY w1
),
lp AS (
  SELECT big.doc_id,
         round(ln(CAST(c2.n12 AS DOUBLE) / CAST(c1.n1 AS DOUBLE)), 9) AS logp
  FROM big
  JOIN c2 ON big.w1 = c2.w1 AND big.w2 = c2.w2
  JOIN c1 ON big.w1 = c1.w1
)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(CAST(sum(CAST(logp AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9)
         AS avg_logprob
FROM lp
WHERE doc_id < 100
GROUP BY doc_id
""",
)
def q124_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model likelihood scoring: train MLE bigram
    probabilities P(w2|w1) = c(w1,w2)/c(w1) on the corpus, score each
    document by its mean bigram log-probability — the perplexity-proxy
    quality filter (fluent text scores high, gibberish low).

    Scale shape: bigrams are built COLUMNARLY (zip_with over the token
    array — no posexplode self-join), so the only shuffles are the two
    count aggregations (bigram- and unigram-vocabulary-sized after
    map-side partial agg) and the key-partitioned joins back onto the
    bigram stream. Frequent-context keys (stopword w1) are exactly the
    AQE skew-join case. Per-bigram log-probs are rounded, summed through
    decimal, divided once — bit-equal across engines.
    """
    docs = load(spark, sf_dir, "documents")
    big = (
        docs.withColumn("toks", F.split("text", " "))
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    F.expr("slice(toks, 2, size(toks) - 1)"),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    lp = (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .select(
            "doc_id",
            F.round(
                F.log(F.col("n12").cast("double") / F.col("n1").cast("double")), 9
            ).alias("logp"),
        )
    )
    return (
        lp.filter(F.col("doc_id") < 100)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(F.col("logp").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("avg_logprob"),
        )
    )


_SHINGLE_K = 5


@register(
    "q125_shingle_novelty",
    tags=("datapipe", "dedup", "text"),
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  -- shingles in ONE list_transform per doc, via INDEXING not slicing:
  -- the original form unnested an index series while carrying the full
  -- token array per index row, and a toks[i:j] SLICE inside a lambda
  -- copies the outer list per element — both tokens^2 on long
  -- documents (20s on one 20k-token doc; the round-11 q09 probe
  -- class). Element indexing of an outer list column is O(1).
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(toks) - {_SHINGLE_K - 1}),
           i -> {" || ' ' || ".join(f"toks[i + {k}]" for k in range(_SHINGLE_K))}))
           AS shingle
  FROM base
),
owner AS (
  SELECT shingle, min(doc_id) AS owner_doc FROM sh GROUP BY shingle
)
SELECT sh.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN owner.owner_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN owner.owner_doc = sh.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 9) AS novelty
FROM sh JOIN owner ON sh.shingle = owner.shingle
GROUP BY sh.doc_id
""",
)
def q125_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-level novelty: the fraction of a document's 5-gram
    shingles FIRST seen in that document (min-doc_id ownership) — the
    containment-dedup signal that catches partial copies, boilerplate,
    and quote-heavy near-duplicates that whole-document hashing misses.

    Scale shape: shingles build columnarly (transform over an index
    sequence, then one explode); ownership is a single shuffle grouped
    on the 32-byte md5 of the shingle (never the shingle text — q50's
    short-shuffle-key rationale); the ownership join is key-partitioned
    on the same hash, so it reuses the shuffle partitioning. Output is
    one row per document.
    """
    from ..session import default_parallelism

    docs = load(spark, sf_dir, "documents")
    k = _SHINGLE_K
    # guard: Spark's sequence(1, n) DESCENDS for n <= 0 and slice with a
    # 0/negative start throws, so a sub-k-token document would kill the
    # task; the oracle's generate_series(1, n<=0) is simply empty, and
    # filtering matches that (the doc emits no shingle rows).
    # Up-front round-robin spread (q55 staging rationale): the shingle
    # build runs twice off this subtree (ownership + join side) and a
    # few-row-group input would otherwise run both single-task.
    sh = (
        docs.repartition(default_parallelism())
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {k - 1}),"
                    f" i -> array_join(slice(toks, i, {k}), ' '))"
                )
            ).alias("shingle"),
        )
        .select("doc_id", F.md5(F.col("shingle").cast("binary")).alias("sh_hash"))
    )
    owner = sh.groupBy("sh_hash").agg(F.min("doc_id").alias("owner_doc"))
    novel = (F.col("owner_doc") == F.col("doc_id")).cast("int")
    return (
        sh.join(owner, "sh_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.round(F.sum(novel).cast("double") / F.count(F.lit(1)), 9).alias(
                "novelty"
            ),
        )
    )


_VOCAB_TOP_K = 200


@register(
    "q126_vocab_coverage",
    tags=("datapipe", "text", "tokenizer"),
    oracle=f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT token, count(*) AS n FROM tok GROUP BY token
),
total AS (SELECT sum(n) AS total_tokens FROM counts),
ranked AS (
  SELECT token, n,
         row_number() OVER (ORDER BY n DESC, token) AS vocab_rank
  FROM counts
)
SELECT vocab_rank, token, n,
       round(CAST(sum(n) OVER (ORDER BY vocab_rank) AS DOUBLE)
             / total.total_tokens, 9) AS cum_coverage
FROM ranked CROSS JOIN total
WHERE vocab_rank <= {_VOCAB_TOP_K}
""",
)
def q126_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction: the top-{k} corpus vocabulary by frequency
    with cumulative token coverage — the "how big must the tokenizer
    vocab be to cover X% of the stream" curve.

    Scale shape: token counting is one map-side-combinable aggregation
    whose shuffle is vocab-sized; the top-k cut is an explicit
    orderBy().limit(k) → TakeOrderedAndProject (map-side k-row heaps),
    gate-pinned so the full vocabulary can never silently
    single-partition, and the rank + running-coverage windows then
    cover <= k rows by construction. Integer cumulative sums divide
    the broadcast total once, rounded — exact in both engines.
    """
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total_tokens"))
    # Gate-pinned TakeOrderedAndProject top-k + bounded rank window
    # (see _topk.global_topk's docstring).
    ranked = global_topk(
        counts, _VOCAB_TOP_K, [F.col("n").desc(), "token"], "vocab_rank"
    )
    cum = W.partitionBy().orderBy("vocab_rank").rowsBetween(W.unboundedPreceding, W.currentRow)
    return ranked.join(F.broadcast(total)).select(
        "vocab_rank",
        "token",
        "n",
        F.round(
            F.sum("n").over(cum).cast("double") / F.col("total_tokens"), 9
        ).alias("cum_coverage"),
    )


@register(
    "q08_source_datacard",
    tags=("datapipe", "reporting"),
    oracle="""
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_unique_texts,
       round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 9) AS dup_rate,
       count(DISTINCT lang) AS n_langs,
       sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars,
       count_if(len(string_split(text, ' ')) < 30)::BIGINT AS n_short_docs
FROM documents
GROUP BY source
""",
)
def q08_source_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card: the summary a curation pipeline publishes
    next to a training mix (docs, exact-dup rate, language breadth,
    token volume, short-doc count per source).

    One groupBy on `source` with partial-aggregatable counts; the only
    extra shuffle is the count(DISTINCT md5) two-phase expansion, whose
    shuffle key is the 32-byte content hash — the same key q50's exact
    dedup scales on. No windows, no joins: this stays one pass at any
    corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    per_doc = docs.select(
        "source",
        "lang",
        "n_chars",
        F.md5(F.col("text").cast("binary")).alias("text_hash"),
        F.size(toks).alias("n_tokens"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("text_hash").alias("n_unique_texts"),
        F.round(
            F.lit(1.0) - F.count_distinct("text_hash").cast("double") / F.count(F.lit(1)), 9
        ).alias("dup_rate"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("mean_chars"),
        F.count_if(F.col("n_tokens") < 30).alias("n_short_docs"),
    )


# --------------------------------------------------------------------------
# q11 — adaptive quality filter: per-language positional quantile cutoffs

@register(
    "q11_adaptive_quality_filter",
    tags=("datapipe", "text", "quality"),
    oracle="""
WITH feat AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens,
         round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS ur4
  FROM documents
),
nl AS (SELECT lang, count(*) AS n_docs FROM feat GROUP BY lang),
tg AS (
  SELECT lang, n_tokens, count(*) AS c FROM feat GROUP BY lang, n_tokens
),
tcum AS (
  SELECT lang, n_tokens,
         sum(c) OVER (PARTITION BY lang ORDER BY n_tokens) AS cum
  FROM tg
),
thr_t AS (
  SELECT t.lang, min(t.n_tokens) AS thr_tokens
  FROM tcum t JOIN nl USING (lang)
  WHERE t.cum >= (nl.n_docs + 9) // 10
  GROUP BY t.lang
),
ug AS (SELECT lang, ur4, count(*) AS c FROM feat GROUP BY lang, ur4),
ucum AS (
  SELECT lang, ur4,
         sum(c) OVER (PARTITION BY lang ORDER BY ur4) AS cum
  FROM ug
),
thr_u AS (
  SELECT u.lang, min(u.ur4) AS thr_uniq
  FROM ucum u JOIN nl USING (lang)
  WHERE u.cum >= (nl.n_docs + 3) // 4
  GROUP BY u.lang
)
SELECT f.lang, any_value(nl.n_docs) AS n_docs,
       any_value(thr_t.thr_tokens) AS thr_tokens,
       any_value(thr_u.thr_uniq) AS thr_uniq,
       count_if(f.n_tokens >= thr_t.thr_tokens AND f.ur4 >= thr_u.thr_uniq)::BIGINT
         AS n_kept
FROM feat f
JOIN nl USING (lang) JOIN thr_t USING (lang) JOIN thr_u USING (lang)
GROUP BY f.lang
""",
)
def q11_adaptive_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality filtering: per-language cutoffs at the exact
    P10 of token count and P25 of lexical diversity, applied back to
    the corpus — the data-driven alternative to q53's fixed bands
    (a fixed threshold tuned for English over-filters morphologically
    rich or CJK text; quantile cutoffs self-calibrate per language).

    Exact quantiles WITHOUT a corpus-sized window: values are first
    reduced per (lang, value) group, so the cumulative-sum window runs
    over the DISTINCT value domain (token counts; diversity rounded to
    4 decimals to bound it at ≤10k cells/lang), not over documents.
    The threshold is the positional percentile_disc element (first
    value whose cumulative count reaches ceil(q·n), computed in integer
    arithmetic — no float·count rounding hazard). Threshold tables are
    lang-cardinality tiny → broadcast back over the corpus.
    """
    docs = load(spark, sf_dir, "documents")
    feat = quality_features(docs).select(
        "doc_id", "lang", "n_tokens", F.round("uniq_ratio", 4).alias("ur4")
    )
    nl = feat.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))

    def positional_threshold(col: str, k_expr: str, alias: str) -> DataFrame:
        grouped = feat.groupBy("lang", col).agg(F.count(F.lit(1)).alias("c"))
        cum = grouped.withColumn(
            "cum", F.sum("c").over(W.partitionBy("lang").orderBy(col))
        )
        return (
            cum.join(F.broadcast(nl), "lang")
            .filter(F.col("cum") >= F.expr(k_expr))
            .groupBy("lang")
            .agg(F.min(col).alias(alias))
        )

    thr_t = positional_threshold("n_tokens", "(n_docs + 9) div 10", "thr_tokens")
    thr_u = positional_threshold("ur4", "(n_docs + 3) div 4", "thr_uniq")

    return (
        feat.join(F.broadcast(nl), "lang")
        .join(F.broadcast(thr_t), "lang")
        .join(F.broadcast(thr_u), "lang")
        .groupBy("lang")
        .agg(
            F.any_value("n_docs").alias("n_docs"),
            F.any_value("thr_tokens").alias("thr_tokens"),
            F.any_value("thr_uniq").alias("thr_uniq"),
            F.count_if(
                (F.col("n_tokens") >= F.col("thr_tokens")) & (F.col("ur4") >= F.col("thr_uniq"))
            ).alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# q13 — incremental dedup: new batch vs. already-ingested history

@register(
    "q13_incremental_dedup",
    tags=("datapipe", "dedup", "incremental"),
    oracle="""
WITH fp AS (
  SELECT doc_id, md5(text) AS fp, doc_id % 10 < 8 AS is_hist
  FROM documents
),
marked AS (
  SELECT doc_id, fp, is_hist,
         max(CASE WHEN is_hist THEN 1 ELSE 0 END)
           OVER (PARTITION BY fp) = 1 AS dup_of_history,
         coalesce(sum(CASE WHEN is_hist THEN 0 ELSE 1 END)
           OVER (PARTITION BY fp ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) > 0
           AS dup_in_batch
  FROM fp
)
SELECT doc_id, dup_of_history, dup_in_batch,
       NOT (dup_of_history OR dup_in_batch) AS keep
FROM marked WHERE NOT is_hist
""",
)
def q13_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: an incoming batch (docs with
    doc_id % 10 >= 8 — a deterministic, scale-free 20% slice standing
    in for "today's crawl") is screened against the already-ingested
    history AND against itself, by exact content fingerprint.

    One shuffle total: history and batch co-partition on the md5 key,
    then two windows inside each fingerprint group decide (a) does any
    history copy exist, (b) did an earlier batch doc already claim the
    fingerprint. This is the plan shape that stays incremental at
    100 TB — the history side is read but never re-deduped, no join
    back, and a boilerplate fingerprint with millions of copies costs a
    within-group scan, not a pair expansion.
    """
    docs = load(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        (F.col("doc_id") % 10 < 8).alias("is_hist"),
    )
    wg = W.partitionBy("fp")
    wprior = W.partitionBy("fp").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    marked = fp.select(
        "doc_id",
        "is_hist",
        (F.max(F.when(F.col("is_hist"), 1).otherwise(0)).over(wg) == 1).alias(
            "dup_of_history"
        ),
        (
            F.coalesce(
                F.sum(F.when(F.col("is_hist"), 0).otherwise(1)).over(wprior), F.lit(0)
            )
            > 0
        ).alias("dup_in_batch"),
    )
    return marked.filter(~F.col("is_hist")).select(
        "doc_id",
        "dup_of_history",
        "dup_in_batch",
        (~(F.col("dup_of_history") | F.col("dup_in_batch"))).alias("keep"),
    )


# --------------------------------------------------------------------------
# q14 — token-budget mixture resampling: weights → rates → actual sample

@register(
    "q14_token_budget_mix",
    tags=("datapipe", "sampling", "mixing"),
    oracle=f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
weighted AS (
  SELECT source, n_tokens,
         round(pow(CAST(n_tokens AS DOUBLE), 0.7), 9) AS raw_w,
         (sum(n_tokens) OVER () * 2) // 5 AS budget
  FROM counts
),
rates AS (
  SELECT source, n_tokens,
         CAST(round(budget * round(raw_w / sum(raw_w) OVER (), 9)) AS BIGINT)
           AS target_tokens,
         least(10000, CAST(round(
             10000.0 * round(budget * round(raw_w / sum(raw_w) OVER (), 9))
                     / n_tokens) AS BIGINT)) AS rate_bp
  FROM weighted
),
sampled AS (
  SELECT d.source, r.target_tokens, r.rate_bp,
         len(string_split(d.text, ' ')) AS n_tok
  FROM documents d JOIN rates r USING (source)
  WHERE {_SQL_H32.format(expr="'mix:' || CAST(d.doc_id AS VARCHAR)")} % 10000
          < r.rate_bp
)
SELECT source, any_value(target_tokens) AS target_tokens,
       any_value(rate_bp) AS rate_bp,
       count(*) AS n_sampled,
       CAST(sum(n_tok) AS BIGINT) AS tokens_sampled
FROM sampled GROUP BY source
""",
)
def q14_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final mix-building step: turn q92's temperature weights into
    per-source sampling RATES against a global token budget (40% of the
    corpus), apply them as a deterministic hash sample, and report the
    achieved per-source token counts next to the targets.

    Scale shape: two tiny aggregates (per-source counts, then windows
    over the handful of source rows — domains, not documents), the rate
    table broadcast back over the corpus, and a map-only hash filter;
    the dropped rows never shuffle. The budget stays in exact integer
    arithmetic (`total*2 // 5`) and every double (pow, normalization)
    is rounded before use so both engines sample the identical doc set.
    """
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    total = W.partitionBy()
    weighted = counts.select(
        "source",
        "n_tokens",
        F.round(F.pow(F.col("n_tokens").cast("double"), F.lit(0.7)), 9).alias("raw_w"),
        F.expr("(sum(n_tokens) OVER () * 2) div 5").alias("budget"),
    )
    mix_w = F.round(F.col("raw_w") / F.sum("raw_w").over(total), 9)
    target = F.round(F.col("budget") * mix_w).cast("bigint")
    rates = weighted.select(
        "source",
        target.alias("target_tokens"),
        F.least(
            F.lit(10000),
            F.round(F.lit(10000.0) * target / F.col("n_tokens")).cast("bigint"),
        ).alias("rate_bp"),
    )
    bucket = _h32(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 10000
    sampled = (
        docs.select(
            "source", "doc_id", F.size(F.split("text", " ")).alias("n_tok"), bucket.alias("b")
        )
        .join(F.broadcast(rates), "source")
        .filter(F.col("b") < F.col("rate_bp"))
    )
    return sampled.groupBy("source").agg(
        F.any_value("target_tokens").alias("target_tokens"),
        F.any_value("rate_bp").alias("rate_bp"),
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_tok").cast("bigint").alias("tokens_sampled"),
    )


# --------------------------------------------------------------------------
# q15 — learned language ID: Naive-Bayes trained and scored in-engine

@register(
    "q15_nb_langid",
    tags=("datapipe", "text", "langid", "ml"),
    oracle="""
WITH occ AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
tc AS (SELECT tok, lang AS cls, count(*) AS c FROM occ GROUP BY tok, lang),
tl AS (SELECT lang AS cls, count(*) AS t FROM occ GROUP BY lang),
vocab AS (SELECT DISTINCT tok FROM occ),
v AS (SELECT count(*) AS v FROM vocab),
classes AS (SELECT DISTINCT lang AS cls FROM documents),
dense AS (
  SELECT vocab.tok, classes.cls,
         round(ln((coalesce(tc.c, 0) + 1.0) / (tl.t + v.v)), 9) AS logp
  FROM vocab CROSS JOIN classes
  LEFT JOIN tc ON tc.tok = vocab.tok AND tc.cls = classes.cls
  JOIN tl ON tl.cls = classes.cls
  CROSS JOIN v
),
priors AS (
  SELECT lang AS cls,
         round(ln(CAST(count(*) AS DOUBLE)
                  / (SELECT count(*) FROM documents)), 9) AS prior
  FROM documents GROUP BY lang
),
scores AS (
  SELECT occ.doc_id, any_value(occ.lang) AS lang, dense.cls,
         CAST(sum(CAST(dense.logp AS DECIMAL(28,12))) AS DOUBLE)
           + any_value(priors.prior) AS score
  FROM occ
  JOIN dense ON dense.tok = occ.tok
  JOIN priors ON priors.cls = dense.cls
  GROUP BY occ.doc_id, dense.cls
),
pred AS (
  SELECT doc_id, lang, cls,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
  FROM scores
)
SELECT lang, cls AS predicted, count(*) AS n_docs
FROM pred WHERE rn = 1 GROUP BY lang, cls
""",
)
def q15_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned language ID: a multinomial Naive-Bayes classifier with
    add-one smoothing, TRAINED in the engine (per-(token, class) counts
    + class priors — the distributed 'fit' is two aggregations) and
    applied back to every document, reported as a confusion matrix
    against the labels. The learned upgrade of q54's fixed heuristic —
    the shape of every counting-based model fit a curation pipeline
    runs (fasttext-style language ID, quality classifiers).

    Scale shape: training shuffles are vocab- and class-bounded after
    map-side partial agg; the dense (token × class) log-prob table is
    model-sized by construction and BROADCASTS back over the token
    stream (see the inline note), so scoring is a map-side pass plus
    one (doc, class) aggregation. Per-token log-probs are rounded then
    decimal-summed
    (the q95 determinism contract), and argmax ties break on class
    name, so both engines pick identical predictions.
    """
    from ..session import default_parallelism

    docs = load(spark, sf_dir, "documents")
    # Up-front round-robin spread (the q55 staging rationale): both the
    # fit and the scoring pass hang off this explode, and a small input
    # of a few parquet row groups would otherwise run it single-task.
    occ = docs.repartition(default_parallelism()).select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    # tl / vocab / v all derive FROM tc rather than from occ: the three
    # aggregates then hang off tc's (tok, cls) exchange, which Spark
    # executes once and wires up as ReusedExchange — the token explode
    # runs twice per job (tc + scoring), not four times.
    tc = occ.groupBy("tok", F.col("lang").alias("cls")).agg(F.count(F.lit(1)).alias("c"))
    tl = tc.groupBy("cls").agg(F.sum("c").alias("t"))
    vocab = tc.select("tok").distinct()
    v = vocab.agg(F.count(F.lit(1)).alias("v"))
    classes = docs.select(F.col("lang").alias("cls")).distinct()
    dense = (
        vocab.crossJoin(F.broadcast(classes))
        .join(tc, ["tok", "cls"], "left")
        .join(F.broadcast(tl), "cls")
        .crossJoin(F.broadcast(v))
        .select(
            "tok",
            "cls",
            F.round(
                F.log((F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0)) / (F.col("t") + F.col("v"))),
                9,
            ).alias("logp"),
        )
    )
    n_docs_total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    priors = (
        docs.groupBy(F.col("lang").alias("cls"))
        .agg(F.count(F.lit(1)).alias("n_cls"))
        .crossJoin(F.broadcast(n_docs_total))
        .select(
            "cls",
            F.round(F.log(F.col("n_cls").cast("double") / F.col("n_total")), 9).alias("prior"),
        )
    )
    # The CLASS AXIS round-trips through the driver (round-14
    # optimization): priors are class-count-sized — the number of
    # languages, bounded by the model design exactly like q104's 67-row
    # weight table — so collecting them is model-state, never
    # corpus-sized. Knowing the class list at plan time removes the two
    # scale problems the old shape had (measured 7.3s noop at sf0.1,
    # now ~2.5s — OPTIMIZATION_r15.md, round-14 #1):
    # - the scoring join occ ⋈ dense multiplied EVERY token row by
    #   n_classes before aggregating (guide §3.3: explode-then-join
    #   multiplies the shuffle) — regrouping dense to ONE class-vector
    #   row per token keeps the broadcast model-sized and the token
    #   stream at 1× while the per-class sums ride the same partial
    #   aggregation;
    # - the (doc_id, cls) score reduction + the doc_id row_number
    #   window (a second corpus-sized exchange + sort) collapse to ONE
    #   doc_id-keyed aggregation with an in-array argmax (5-element
    #   array per doc, no window at all).
    # Values are bit-identical: the same multiset of 9-rounded logps
    # enters the same DECIMAL(28,12) sum per (doc, class) — exact
    # decimal addition is order-free — and the argmax tie-break (max
    # score, then FIRST class in sorted order) is the window's
    # (score DESC, cls) rule. NULL lang classes never reach dense in
    # either engine (the tl join drops them), so the class axis is the
    # non-null priors rows.
    prior_rows = priors.collect()
    cls_sorted = sorted(r.cls for r in prior_rows if r.cls is not None)
    prior_map = {r.cls: r.prior for r in prior_rows if r.cls is not None}
    if not cls_sorted:  # empty corpus / all-NULL langs: scores are empty
        return (
            docs.select(
                "lang",
                F.col("lang").alias("predicted"),
                F.lit(0).cast("bigint").alias("n_docs"),
            ).limit(0)
        )
    k = len(cls_sorted)
    # one class-vector row per vocab token — the same broadcast posture
    # (model-sized), 1/n_classes the rows of `dense`
    dense_vec = (
        dense.groupBy("tok")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct("cls", F.col("logp").cast("decimal(28,12)").alias("lp"))
                )
            ).alias("m")
        )
        .select(
            "tok",
            F.array(*[F.element_at("m", F.lit(c)) for c in cls_sorted]).alias("lp"),
        )
    )
    per_doc = (
        occ.join(F.broadcast(dense_vec), "tok")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            *[F.sum(F.element_at("lp", i + 1)).alias(f"_s{i}") for i in range(k)],
        )
    )
    # in-array argmax, ties to the FIRST class in sorted order (the inv
    # field makes the earlier class win a struct-ordering tie — the
    # row_number (score DESC, cls) rule)
    cand = F.array(
        *[
            F.struct(
                (F.col(f"_s{i}").cast("double") + F.lit(float(prior_map[c]))).alias(
                    "score"
                ),
                F.lit(k - 1 - i).alias("inv"),
                F.lit(c).alias("cls"),
            )
            for i, c in enumerate(cls_sorted)
        ]
    )
    pred = per_doc.select("lang", F.array_max(cand)["cls"].alias("predicted"))
    return pred.groupBy("lang", "predicted").agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# q19 — per-source quality drift: KL(source band mix ‖ corpus band mix)

@register(
    "q19_quality_drift",
    tags=("datapipe", "quality", "monitoring"),
    oracle="""
WITH feat AS (
  SELECT source,
         CASE WHEN len(string_split(text, ' ')) < 30 THEN 'short'
              WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) < 0.35 THEN 'repetitive'
              ELSE 'ok' END AS band
  FROM documents
),
g AS (
  SELECT band, CAST(count(*) AS DOUBLE)
               / (SELECT count(*) FROM feat) AS p_g
  FROM feat GROUP BY band
),
s AS (
  SELECT source, band, count(*) AS c,
         CAST(count(*) AS DOUBLE)
           / sum(count(*)) OVER (PARTITION BY source) AS p_s
  FROM feat GROUP BY source, band
)
SELECT s.source,
       CAST(sum(s.c) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(round(s.p_s * round(ln(s.p_s / g.p_g), 9), 9)
                           AS DECIMAL(28,12))) AS DOUBLE), 9) AS kl_quality
FROM s JOIN g USING (band)
GROUP BY s.source
""",
)
def q19_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift monitor: per-source KL divergence of the quality-band
    mix against the corpus-wide mix — the report a curation pipeline
    watches to catch a source going bad (a crawler suddenly emitting
    boilerplate shows up as KL mass on the 'repetitive' band long
    before eyeballing samples would).

    Two tiny aggregations (bands × sources), a broadcast of the
    3-row global distribution, and a per-source sum of ≤3 rounded
    terms — nothing scales with corpus size after the first band
    projection. Zero-count bands contribute no term (the 0·ln0 = 0
    convention falls out of the inner join).
    """
    docs = load(spark, sf_dir, "documents")
    # Band computed inline over ONE (source, text) projection — joining
    # quality_features back on doc_id would scan the corpus twice and
    # turn into a corpus-sized SortMergeJoin at scale just to re-attach
    # the source column.
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    band = (
        F.when(n_tokens < 30, "short")
        .when(uniq_ratio < 0.35, "repetitive")
        .otherwise("ok")
    )
    feat = docs.select("source", band.alias("band"))
    total = feat.agg(F.count(F.lit(1)).alias("n_total"))
    g = (
        feat.groupBy("band")
        .agg(F.count(F.lit(1)).alias("nb"))
        .crossJoin(F.broadcast(total))
        .select("band", (F.col("nb").cast("double") / F.col("n_total")).alias("p_g"))
    )
    ws = W.partitionBy("source")
    s = (
        feat.groupBy("source", "band")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("p_s", F.col("c").cast("double") / F.sum("c").over(ws))
    )
    term = F.round(F.col("p_s") * F.round(F.log(F.col("p_s") / F.col("p_g")), 9), 9)
    return (
        s.join(F.broadcast(g), "band")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.round(F.sum(term.cast("decimal(28,12)")).cast("double"), 9).alias(
                "kl_quality"
            ),
        )
    )


# --------------------------------------------------------------------------
# q42 — KMV distinct sketch: mergeable cardinality estimation, exactly
# reproducible cross-engine (md5-derived hashes, no HLL tolerance band)

_KMV_K = 32
_KMV_SPACE = float(2**32)

@register(
    "q42_kmv_distinct",
    tags=("datapipe", "sketch", "cardinality"),
    oracle=f"""
WITH h AS (
  SELECT DISTINCT source,
         {_SQL_H32.format(expr="text")} AS hv
  FROM documents
),
exact AS (
  SELECT source, count(*) AS n_exact FROM h GROUP BY source
),
ranked AS (
  SELECT source, hv,
         row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
  FROM h
),
kmins AS (
  SELECT source, max(hv) AS kth FROM ranked WHERE rn <= {_KMV_K} GROUP BY source
)
SELECT e.source,
       CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST(CASE WHEN e.n_exact <= {_KMV_K} THEN e.n_exact
                 ELSE CAST(round(({_KMV_K} - 1) * {_KMV_SPACE} / k.kth) AS BIGINT)
            END AS BIGINT) AS kmv_estimate
FROM exact e JOIN kmins k USING (source)
""",
)
def q42_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch per source, next to the
    exact count it estimates. The deterministic counterpart of q75's
    HLL (which needs a cross-engine tolerance band): KMV over
    md5-derived hashes produces bit-identical estimates in both
    engines, and the k-smallest-hash state is tiny, mergeable, and
    partial-aggregatable — the sketch you ship to a coordinator when
    exact distinct over 100 TB is too expensive. Sources with ≤k
    distinct values report exactly.

    Plan shape: one distinct on (source, hash) — the only
    corpus-sized shuffle, on a short key — then a per-source rank that
    Spark executes as a map-side WindowGroupLimit (only k rows per
    source survive to the final agg).
    """
    docs = load(spark, sf_dir, "documents")
    h = docs.select("source", _h32(F.col("text")).alias("hv")).distinct()
    exact = h.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    # pure rank window → Spark rewrites the rn<=k filter to a map-side
    # WindowGroupLimit (a co-resident count() window would disable it)
    ranked = h.select(
        "source", "hv", F.row_number().over(W.partitionBy("source").orderBy("hv")).alias("rn")
    )
    kmins = (
        ranked.filter(F.col("rn") <= _KMV_K).groupBy("source").agg(F.max("hv").alias("kth"))
    )
    est = (
        F.when(F.col("n_exact") <= _KMV_K, F.col("n_exact"))
        .otherwise(F.round((_KMV_K - 1) * F.lit(_KMV_SPACE) / F.col("kth")).cast("bigint"))
        .cast("bigint")
    )
    return exact.join(kmins, "source").select(
        "source", F.col("n_exact").cast("bigint").alias("n_exact"), est.alias("kmv_estimate")
    )


# --------------------------------------------------------------------------
# q43 — cross-modal curation screen: text quality × embedding health

@register(
    "q43_crossmodal_screen",
    tags=("datapipe", "quality", "multimodal", "join"),
    oracle=f"""
WITH elems AS ({{sql_explode}}),
norms AS (
  SELECT vec_id,
         round(sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)), 9) AS nrm
  FROM elems GROUP BY vec_id
),
band AS (
  SELECT nrm,
         CAST(sum(CAST(nrm AS DECIMAL(28,12))) OVER () AS DOUBLE)
           / count(*) OVER () AS mean_nrm
  FROM norms
),
bounds AS (
  SELECT any_value(mean_nrm) * 0.5 AS lo, any_value(mean_nrm) * 1.5 AS hi FROM band
),
feat AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) >= 30
         AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) >= 0.35 AS text_ok
  FROM documents
)
SELECT f.lang,
       count(*) AS n_docs,
       count_if(f.text_ok)::BIGINT AS n_text_ok,
       count_if(n.nrm >= b.lo AND n.nrm <= b.hi)::BIGINT AS n_embed_ok,
       count_if(f.text_ok AND n.nrm >= b.lo AND n.nrm <= b.hi)::BIGINT AS n_kept
FROM feat f
JOIN norms n ON n.vec_id = f.doc_id
CROSS JOIN bounds b
GROUP BY f.lang
""".format(sql_explode=_SQL_EXPLODE.format(id_alias="vec_id", where="")),
)
def q43_crossmodal_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal curation: a document survives only if BOTH its text
    passes the quality gate AND its paired embedding's L2 norm sits in
    a healthy band (within 0.5×–1.5× of the corpus mean norm — the
    cheap screen that catches truncated/degenerate vectors). The first
    two-table curation operator: documents and embeddings join on
    their shared id.

    Scale shape: norms fold out of the exploded embeddings (one
    vec-keyed aggregation, the q49 pattern), the 2-value bounds row
    broadcasts, and the doc⋈embedding join is id-keyed — at lake scale
    both sides are bucketed on the same id, so the join is
    co-partitioned. Norms are rounded before the mean's decimal sum
    (the post-sqrt determinism contract).
    """
    docs = load(spark, sf_dir, "documents")
    elems = _exploded_embeddings(spark, sf_dir, "vec_id")
    norms = elems.groupBy("vec_id").agg(
        F.round(
            F.sqrt(F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).cast("double")), 9
        ).alias("nrm")
    )
    bounds = norms.agg(
        (F.sum(F.col("nrm").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)))
        .alias("mean_nrm")
    ).select(
        (F.col("mean_nrm") * 0.5).alias("lo"), (F.col("mean_nrm") * 1.5).alias("hi")
    )
    toks = F.split("text", " ")
    text_ok = (F.size(toks) >= 30) & (
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks) >= 0.35
    )
    feat = docs.select("doc_id", "lang", text_ok.alias("text_ok"))
    emb_ok = (F.col("nrm") >= F.col("lo")) & (F.col("nrm") <= F.col("hi"))
    return (
        feat.join(norms, feat["doc_id"] == norms["vec_id"])
        .crossJoin(F.broadcast(bounds))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if("text_ok").alias("n_text_ok"),
            F.count_if(emb_ok).alias("n_embed_ok"),
            F.count_if(F.col("text_ok") & emb_ok).alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# q09 — per-source boilerplate n-gram detection (RefinedWeb/CCNet-style
# line-dedup analog: spans repeated across many documents of ONE source
# are template boilerplate — headers, footers, nav chrome — and a
# curation pipeline strips or downweights them before training)

_BP_N = 3  # gram width (tokens)
_BP_MIN_DOCS = 2  # a gram seen in >= this many docs of a source is boilerplate
_BP_FLAG_FRAC = 0.5  # docs that are mostly boilerplate get flagged


@register(
    "q09_boilerplate_ngrams",
    tags=("datapipe", "text", "quality"),
    oracle=f"""
WITH tk AS MATERIALIZED (
  -- split ONCE per row: string_split(text) referenced inside the
  -- lambda re-splits per gram — O(tokens^2) per row, >10 min on one
  -- 20k-token document (round-11 giant-doc probe; the Spark side had
  -- the same bug through expression inlining, fixed the same way)
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
doc_grams AS (
  SELECT doc_id, source,
         list_distinct(
           CASE WHEN len(t) >= {_BP_N}
                THEN list_transform(
                       generate_series(1, len(t) - {_BP_N - 1}),
                       i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
                ELSE [] END) AS grams
  FROM tk
),
exploded AS (
  SELECT doc_id, source, unnest(grams) AS gram FROM doc_grams
),
gram_df AS (
  SELECT source, gram, count(*) AS df_docs
  FROM exploded GROUP BY source, gram
),
boiler_per_doc AS (
  SELECT e.doc_id, count(*) AS n_boiler
  FROM exploded e JOIN gram_df g ON g.source = e.source AND g.gram = e.gram
  WHERE g.df_docs >= {_BP_MIN_DOCS}
  GROUP BY e.doc_id
)
SELECT d.doc_id, d.source,
       CAST(len(d.grams) AS BIGINT) AS n_grams,
       CAST(coalesce(b.n_boiler, 0) AS BIGINT) AS n_boiler,
       CASE WHEN len(d.grams) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE round(CAST(coalesce(b.n_boiler, 0) AS DOUBLE) / len(d.grams), 9)
       END AS boiler_frac,
       CASE WHEN len(d.grams) = 0 THEN FALSE
            ELSE CAST(coalesce(b.n_boiler, 0) AS DOUBLE) / len(d.grams) >= {_BP_FLAG_FRAC}
       END AS is_flagged
FROM doc_grams d LEFT JOIN boiler_per_doc b ON b.doc_id = d.doc_id
""",
)
def q09_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate span detection: token {_BP_N}-grams that
    recur across >= _BP_MIN_DOCS distinct documents of the SAME source
    are template boilerplate; each document reports how much of its
    distinct-gram set is boilerplate and is flagged when mostly so.

    The line-dedup step of web-curation pipelines (RefinedWeb, CCNet)
    restated over single-line synthetic text: "line" becomes "token
    n-gram", source plays the role of the domain/template key.

    Scale shape: the per-doc DISTINCT gram set is built entirely
    MAP-SIDE (an in-array transform + array_distinct — each doc
    contributes a gram at most once, so a plain count(*) after explode
    IS the document frequency; no count-distinct shuffle). Two shuffles
    total over gram-sized data: one groupBy (source, gram) with
    map-side partial counts for the DF table, one join of the exploded
    grams back to that table (both sides hash-partitioned on the gram
    key — co-located, no skew beyond genuinely viral grams, which AQE
    skew-join splits). Nothing corpus-quadratic, nothing collected.
    """
    docs = load(spark, sf_dir, "documents")
    # Gram build via zip_with over SHIFTED SLICES, not element_at in a
    # transform lambda: any non-lambda-variable expression inside a
    # higher-order-function body re-evaluates PER ELEMENT (and
    # CollapseProject inlines a projected alias right back into the
    # lambda), so the old `element_at(split(text), i + k)` form
    # re-split the full text per gram — O(tokens^2) per row, one task
    # pinned 9+ minutes on a single 20k-token document (round-11
    # giant-doc probe; 326s -> 3s). zip_with's inputs are child
    # expressions, evaluated once per ROW; the lambda touches only its
    # element variables.
    toks = F.split("text", " ")
    n = F.size(toks)
    s2 = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    s3 = F.slice(toks, 3, F.greatest(n - 2, F.lit(0)))
    g12 = F.zip_with(toks, s2, lambda a, b: F.concat_ws(" ", a, b))
    # zip_with pads the shorter side with NULL and concat_ws skips
    # nulls, so the last two entries are short grams — sliced off below
    g123 = F.zip_with(g12, s3, lambda ab, c: F.concat_ws(" ", ab, c))
    grams = F.when(
        n >= _BP_N,
        F.array_distinct(F.slice(g123, 1, n - (_BP_N - 1))),
    ).otherwise(F.array().cast("array<string>"))
    # persist_tracked: the gram frame feeds THREE consumers (gram_df,
    # the boilerplate join probe side, and the final per-doc report) —
    # uncached, each re-scans the corpus and re-runs the split +
    # double-zip_with gram build, the single most expensive expression
    # in the query (3 scans -> 1; guide §2.1/§6 — the gate's
    # max_scans 3 is a cap, one scan passes it)
    from ..session import persist_tracked

    doc_grams = persist_tracked(
        docs.select("doc_id", "source", grams.alias("grams"))
    )
    exploded = doc_grams.select("doc_id", "source", F.explode("grams").alias("gram"))
    gram_df = exploded.groupBy("source", "gram").agg(
        F.count(F.lit(1)).alias("df_docs")
    )
    boiler_per_doc = (
        exploded.join(
            gram_df.filter(F.col("df_docs") >= _BP_MIN_DOCS), ["source", "gram"]
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    n_grams = F.size("grams").cast("bigint")
    n_boiler = F.coalesce("n_boiler", F.lit(0)).cast("bigint")
    frac = n_boiler.cast("double") / n_grams
    return (
        doc_grams.join(boiler_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            n_grams.alias("n_grams"),
            n_boiler.alias("n_boiler"),
            F.when(n_grams == 0, F.lit(0.0))
            .otherwise(F.round(frac, 9))
            .alias("boiler_frac"),
            F.when(n_grams == 0, F.lit(False))
            .otherwise(frac >= _BP_FLAG_FRAC)
            .alias("is_flagged"),
        )
    )


# --------------------------------------------------------------------------
# q12 — data-quality constraint audit (the Deequ-style validate-before-
# training pass: referential integrity, uniqueness, completeness, and
# range checks emitted as one long-format report)


@register(
    "q12_data_quality_audit",
    tags=("datapipe", "quality", "validation"),
    oracle=f"""
WITH checks AS (
  SELECT 'lineitem_orderkey_fk' AS check_name,
         (SELECT count(*) FROM lineitem) AS n_checked,
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)) AS n_violations
  UNION ALL
  SELECT 'orders_custkey_fk',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'customer_custkey_unique',
         (SELECT count(*) FROM customer),
         (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
  UNION ALL
  SELECT 'orders_totalprice_complete',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FILTER (o_totalprice IS NULL) FROM orders)
  UNION ALL
  SELECT 'orders_totalprice_positive',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FILTER (o_totalprice IS NOT NULL AND o_totalprice <= 0)
          FROM orders)
  UNION ALL
  SELECT 'lineitem_quantity_range',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FILTER (l_quantity IS NULL OR l_quantity < 1
                                  OR l_quantity > 50) FROM lineitem)
  UNION ALL
  SELECT 'lineitem_discount_range',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FILTER (l_discount IS NULL OR l_discount < 0
                                  OR l_discount > 0.1) FROM lineitem)
  UNION ALL
  SELECT 'documents_text_complete',
         (SELECT count(*) FROM documents),
         (SELECT count(*) FILTER (text IS NULL OR text = '') FROM documents)
  UNION ALL
  SELECT 'documents_docid_unique',
         (SELECT count(*) FROM documents),
         (SELECT count(*) - count(DISTINCT doc_id) FROM documents)
  UNION ALL
  SELECT 'embeddings_vecid_unique',
         (SELECT count(*) FROM (SELECT * FROM embeddings) embeddings),
         (SELECT count(*) - count(DISTINCT vec_id) FROM
            (SELECT * FROM embeddings) embeddings)
  UNION ALL
  SELECT 'embeddings_finite',
         (SELECT count(*) FROM (SELECT * FROM embeddings) embeddings),
         (SELECT count(*) FILTER (NOT ({{EMB_FINITE}})) FROM
            (SELECT * FROM embeddings) embeddings)
)
SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       CASE WHEN n_checked = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE round(CAST(n_violations AS DOUBLE) / n_checked, 9)
       END AS violation_rate
FROM checks
""".replace("{EMB_FINITE}", _SQL_EMB_FINITE),
)
def q12_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit: one long-format report row per
    declared constraint — referential integrity (FK orphans via LEFT
    ANTI joins), key uniqueness, completeness (null/empty rates), value
    ranges, and embedding finiteness (the same screen the similarity
    family applies at its source).

    The validate-before-training gate of a production pipeline (the
    role Deequ/Great Expectations play): run it on every ingested
    snapshot, alert on any violation_rate above a bound.

    Scale shape: every completeness/range/uniqueness constraint is ONE
    conditional partial aggregation over its table's pruned scan —
    constraints over the same table share one scan via a single
    multi-count agg, so the audit costs one pass per audited table
    plus two key-only anti-joins for the FK checks (big-big,
    legitimately shuffled at production scale; nothing is collected
    and nothing corpus-sized broadcasts).
    """
    from ._det import emb_finite_cond

    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    documents = load(spark, sf_dir, "documents")
    embeddings = load(spark, sf_dir, "embeddings")

    def row(df_agg: DataFrame) -> DataFrame:
        rate = F.col("n_violations").cast("double") / F.col("n_checked")
        return df_agg.select(
            "check_name",
            F.col("n_checked").cast("bigint").alias("n_checked"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
            F.when(F.col("n_checked") == 0, F.lit(0.0))
            .otherwise(F.round(rate, 9))
            .alias("violation_rate"),
        )

    def agg_checks(
        df: DataFrame,
        checks: list[tuple[str, F.Column]],
        uniques: tuple = (),
    ):
        """One scan per table: all of the table's constraint counters —
        conditional violation counts AND key-uniqueness deficits
        (count minus count_distinct) — ride one aggregation, then pivot
        to long rows. Returns (wide 1-row agg, report rows); the wide
        row carries the table's count(*) so FK reports reuse it instead
        of paying a second count scan of the same table."""
        aggs = [F.count(F.lit(1)).alias("_n")]
        for i, (_, cond) in enumerate(checks):
            aggs.append(F.count_if(cond).alias(f"_v{i}"))
        for i, (_, key) in enumerate(uniques):
            aggs.append(
                (F.count(F.lit(1)) - F.count_distinct(F.col(key))).alias(f"_u{i}")
            )
        wide = df.agg(*aggs)
        names = [(name, f"_v{i}") for i, (name, _) in enumerate(checks)] + [
            (name, f"_u{i}") for i, (name, _) in enumerate(uniques)
        ]
        return wide, [
            row(
                wide.select(
                    F.lit(name).alias("check_name"),
                    F.col("_n").alias("n_checked"),
                    F.col(col).alias("n_violations"),
                )
            )
            for name, col in names
        ]

    # NOT the screen's keep-condition, null-safe: a NULL embedding (or a
    # NULL element, where the keep-cond is NULL) counts as a violation —
    # exactly the rows finite_embeddings screens out of the similarity
    # family, so this metric monitors the screen itself.
    emb_bad = ~emb_finite_cond("embedding").eqNullSafe(F.lit(True))
    parts: list[DataFrame] = []
    orders_wide, rows_ = agg_checks(
        orders.select("o_totalprice"),
        [
            ("orders_totalprice_complete", F.col("o_totalprice").isNull()),
            (
                "orders_totalprice_positive",
                F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") <= 0),
            ),
        ],
    )
    parts += rows_
    lineitem_wide, rows_ = agg_checks(
        lineitem.select("l_quantity", "l_discount"),
        [
            (
                "lineitem_quantity_range",
                F.col("l_quantity").isNull()
                | (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50),
            ),
            (
                "lineitem_discount_range",
                F.col("l_discount").isNull()
                | (F.col("l_discount") < 0)
                | (F.col("l_discount") > 0.1),
            ),
        ],
    )
    parts += rows_
    parts += agg_checks(
        documents.select("text", "doc_id"),
        [("documents_text_complete", F.col("text").isNull() | (F.col("text") == ""))],
        uniques=(("documents_docid_unique", "doc_id"),),
    )[1]
    parts += agg_checks(
        embeddings.select("embedding", "vec_id"),
        [("embeddings_finite", emb_bad)],
        uniques=(("embeddings_vecid_unique", "vec_id"),),
    )[1]
    # Uniqueness deficits ride each table's wide agg above. The id-keyed
    # similarity family (dedup pairs, CC clusters, ANN, k-means/SemDeDup)
    # treats doc_id/vec_id as row identity — duplicate ids are a
    # data-contract violation those queries do NOT silently repair
    # (silently deduping garbage at 100 TB hides upstream corruption);
    # this audit is the gate that catches them first. Customer has no
    # other checks, so its uniqueness row is its own one-scan agg.
    parts += agg_checks(
        customer.select("c_custkey"),
        [],
        uniques=(("customer_custkey_unique", "c_custkey"),),
    )[1]
    # referential integrity: key-only anti-joins
    fk1 = lineitem.select("l_orderkey").join(
        orders.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_anti",
    )
    parts.append(
        row(
            lineitem_wide.select(F.col("_n").alias("n_checked"))
            .crossJoin(fk1.agg(F.count(F.lit(1)).alias("n_violations")))
            .select(
                F.lit("lineitem_orderkey_fk").alias("check_name"),
                "n_checked",
                "n_violations",
            )
        )
    )
    fk2 = orders.select("o_custkey").join(
        customer.select("c_custkey"),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_anti",
    )
    parts.append(
        row(
            orders_wide.select(F.col("_n").alias("n_checked"))
            .crossJoin(fk2.agg(F.count(F.lit(1)).alias("n_violations")))
            .select(
                F.lit("orders_custkey_fk").alias("check_name"),
                "n_checked",
                "n_violations",
            )
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# q33 — count-min sketch frequency estimation (completes the sketch
# family next to KMV distinct / HLL / quantile sketches: the heavy-
# hitter side — token frequencies from a FIXED d×w counter table)

_CM_D = 4  # hash rows
_CM_W = 16  # buckets per row (narrow on purpose: the synthetic
#            vocabulary is ~31 tokens, and a sketch the vocabulary fits
#            into would never collide — 16 buckets force the CM
#            overestimate behavior the overshoot column demonstrates)
_CM_PROBE_MOD = 2  # deterministic probe subset: tokens with h % 2 == 0


def cm_bucket(j: int, token_col) -> F.Column:
    """CM row-j bucket of a token: one md5 per token, row j reading hex
    chars [1+8j, 8+8j) — shared by the batch sketch (q33), its probe
    side, and the streaming builder (streaming/countmin.py) so the
    three can never hash apart."""
    c = F.col(token_col) if isinstance(token_col, str) else token_col
    return (
        F.conv(F.substring(F.md5(c.cast("binary")), 1 + 8 * j, 8), 16, 10).cast(
            "bigint"
        )
        % _CM_W
    )


def _cm_jb_explode(token_col) -> F.Column:
    """The d-fold (j, bucket) in-array expansion of one token."""
    c = F.col(token_col) if isinstance(token_col, str) else token_col
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("j"), cm_bucket(j, c).alias("bucket"))
                for j in range(_CM_D)
            ]
        )
    )


def cm_cells_from_tokens(toks: DataFrame) -> DataFrame:
    """CM cells counted straight off a raw (token) row stream — the
    builder a shard that cannot pre-aggregate uses (true streaming
    ingest: Structured Streaming allows ONE aggregation, so the
    vocab-first derivation below is not available there). Cells merge
    by cell-wise addition; state/output is d × w rows no matter the
    corpus. Works unchanged on batch and streaming frames."""
    return (
        toks.select(_cm_jb_explode("token").alias("jb"))
        .select(F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_cells_from_vocab(exact: DataFrame) -> DataFrame:
    """Batch CM cells, derived from an exact (token, n_exact) vocab
    count (CM cells are additive, so summing per-token counts into
    cells is bit-identical to counting the raw token stream — asserted
    against cm_cells_from_tokens in tests/test_stream_countmin.py) —
    the d-fold expansion runs over the VOCAB, not the corpus, and the
    caller shares the vocab frame with its other consumers (q33's
    probe side) so the corpus is scanned once."""
    return (
        exact.select(_cm_jb_explode("token").alias("jb"), "n_exact")
        .select(F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"), "n_exact")
        .groupBy("j", "bucket")
        .agg(F.sum("n_exact").alias("cnt"))
    )


@register(
    "q33_countmin_freq",
    tags=("datapipe", "sketch", "frequency"),
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
exact AS (
  SELECT token, count(*) AS n_exact FROM toks GROUP BY token
),
cm AS (
  -- ONE md5 per token; the d row-hashes are disjoint 8-hex-char slices
  -- of that digest (positions 1/9/17/25) — 4x cheaper than d digests
  SELECT j, CAST(('0x' || substr(md5(token), 1 + 8 * j, 8)) AS BIGINT) % {_CM_W} AS bucket,
         count(*) AS cnt
  FROM toks, unnest(generate_series(0, {_CM_D - 1})) AS t(j)
  GROUP BY 1, 2
),
probes AS (
  SELECT token, n_exact FROM exact
  WHERE ({_SQL_H32.format(expr="token")}) % {_CM_PROBE_MOD} = 0
),
est AS (
  SELECT p.token, min(c.cnt) AS cm_estimate
  FROM probes p
  JOIN unnest(generate_series(0, {_CM_D - 1})) AS t(j) ON TRUE
  JOIN cm c ON c.j = t.j
           AND c.bucket = CAST(('0x' || substr(md5(p.token), 1 + 8 * t.j, 8)) AS BIGINT) % {_CM_W}
  GROUP BY p.token
)
SELECT p.token, CAST(p.n_exact AS BIGINT) AS n_exact,
       CAST(e.cm_estimate AS BIGINT) AS cm_estimate,
       CAST(e.cm_estimate - p.n_exact AS BIGINT) AS overshoot
FROM probes p JOIN est e USING (token)
""",
)
def q33_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch: token frequencies estimated from a FIXED
    d × w counter table, reported next to the exact counts for a
    deterministic probe subset (overshoot >= 0 is the CM guarantee —
    the sketch only ever overestimates).

    The heavy-hitter member of the sketch family (KMV distinct q42,
    HLL q75, quantile sketches q78): at 100 TB the full per-token
    count table is vocabulary-sized and Zipf-skewed, while the CM
    table is d × w counters NO MATTER THE CORPUS — build it with one
    explode + partial-aggregated groupBy on (row, bucket), broadcast
    it anywhere, merge shards by cell-wise addition. All hashes are
    the portable md5-prefix integer, so Spark and DuckDB produce
    bit-identical sketches and estimates.

    Plan shape (round 9): ONE token explode + ONE corpus shuffle — the
    exact vocab count — and the sketch is derived FROM the vocab table
    by the d-fold (j, bucket) expansion with cnt = sum(n_exact).
    CM cells are additive, so summing per-token counts into cells is
    bit-identical to counting the raw token stream into cells, but the
    expansion now runs over the VOCAB (bounded) instead of the corpus
    token stream — this flattened the 10× stress ratio the round-8
    build measured at ~5×. A shard that can't pre-aggregate (true
    streaming ingest) still builds cells straight off the stream and
    merges by cell-wise addition (streaming/countmin.py does exactly
    that, and its sketch is asserted bit-identical to this one). The
    estimate join BROADCASTS the fixed-size sketch; probes stream
    through it map-side.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
    cm = cm_cells_from_vocab(exact)
    probes = exact.filter(_h32(F.col("token")) % _CM_PROBE_MOD == 0)
    probe_cells = probes.select(
        "token", "n_exact", _cm_jb_explode("token").alias("jb")
    ).select("token", "n_exact", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
    est = (
        probe_cells.join(F.broadcast(cm), ["j", "bucket"])
        .groupBy("token", "n_exact")
        .agg(F.min("cnt").alias("cm_estimate"))
    )
    return est.select(
        "token",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("cm_estimate").cast("bigint").alias("cm_estimate"),
        (F.col("cm_estimate") - F.col("n_exact")).cast("bigint").alias("overshoot"),
    )


# --------------------------------------------------------------------------
# q45 — exact-substring dedup tier (the suffix-array tier of the dedup
# family, public technique: Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better"). The suffix-array formulation is
# inherently sequential; the Spark-first restatement is fixed-width
# k-gram CHAIN matching: a maximal cross-document duplicated substring
# of T >= k tokens is exactly a maximal diagonal run of T - k + 1
# matching k-grams, so detecting islands of consecutive gram matches
# per (doc pair, diagonal) recovers every maximal shared run — with
# md5(gram) as the only corpus-sized shuffle key.

_SUB_K = 8  # gram width in tokens = minimum detectable run length
_SUB_CAP = 64  # occurrences kept per gram (rank-filtered, map-side);
#               bounds the per-gram pair tier against boilerplate
#               grams the same way _BUCKET_CAP bounds LSH buckets —
#               runs are DEFINED over the capped occurrence set, and
#               the cap ordering (doc_id, p) is deterministic so both
#               engines cap identically


def _sub_tokens(docs: DataFrame, k: int = _SUB_K) -> DataFrame:
    """(doc_id, t): the substring tier's token arrays — empty-filtered
    whitespace split, docs shorter than the gram width dropped. ONE
    definition shared by q45/q46 (exact_substring_runs), q47
    (doc_distinct_grams), and the intra-doc tier (selfrep_runs, which
    passes its own shorter width): the tokenization and the gram-hash
    recipe below are the tier's identity, and two copies would let the
    run detector and the containment screen silently hash apart."""
    return docs.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("t")
    ).filter(F.size("t") >= k)


def _sub_gram_md5(t, i, k: int = _SUB_K) -> F.Column:
    """md5 of the k tokens of `t` starting at 0-based position `i`,
    space-joined — the tier's shared gram-hash recipe (mirrors the
    oracles' md5(array_to_string(t[p+1:p+K], ' ')))."""
    return F.md5(F.concat_ws(" ", F.slice(t, i + 1, F.lit(k))).cast("binary"))


@register(
    "q45_exact_substring_runs",
    headline=True,  # benches the substring tier: gram build + capped
    #                 occurrence tier + island runs in one plan
    tags=("datapipe", "dedup", "substring"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, p, md5(array_to_string(t[p+1:p+{_SUB_K}], ' ')) AS g
  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - {_SUB_K})) AS p
        FROM toks WHERE len(t) >= {_SUB_K})
),
capped AS (
  SELECT doc_id, p, g FROM (
    SELECT doc_id, p, g,
           row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
    FROM grams) WHERE rn <= {_SUB_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
  FROM capped a JOIN capped b ON b.g = a.g AND a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_a, doc_b,
         CAST(min(pa) AS BIGINT) AS start_a,
         CAST(min(pb) AS BIGINT) AS start_b,
         CAST(count(*) + {_SUB_K} - 1 AS BIGINT) AS run_tokens
  FROM (
    SELECT doc_a, doc_b, pa, pb,
           pa - row_number() OVER (
             PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
    FROM pairs)
  GROUP BY doc_a, doc_b, pa - pb, isl
)
SELECT doc_a, doc_b, start_a, start_b, run_tokens FROM runs
""",
)
def q45_exact_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document exact substring runs >= _SUB_K tokens:
    one row per maximal run with both start positions (token index
    into the empty-filtered whitespace token sequence) and its length
    in tokens — the spans a pretraining pipeline cuts out (Lee et al.
    2021), the tier MinHash (q55) is usually paired with.

    Plan shape (audited): ONE 2-column scan; grams are built IN-ARRAY
    (transform over sequence + slice, no per-gram row until the
    explode); the per-gram occurrence cap is a rank filter that plans
    as a Partial+Final WindowGroupLimit (map-side, BEFORE the gram
    shuffle); pair expansion reuses the q06/q25 in-array idiom over
    the capped per-gram occurrence array (<= _SUB_CAP, so the
    quadratic term is bounded per gram no matter how viral the
    boilerplate); island detection and the maximal-run aggregation
    share one (doc_a, doc_b, diag) partitioning — `diag` is
    materialized as a column precisely so the groupBy reuses the
    window's exchange (recomputing pa - pb in the groupBy key makes
    Catalyst treat it as a new expression and re-shuffle). Total: 2
    hash exchanges on bounded keys plus one explicit-width round-robin
    spread of the capped occurrence arrays (the q06/q55 AQE-coalesce
    hardening); no join, no cartesian.

    A same-diagonal gap splits runs (islands), and overlapping
    occurrences within one document are naturally separate rows —
    only CROSS-document pairs (doc_a < doc_b) are emitted.
    """
    return exact_substring_runs(load(spark, sf_dir, "documents"))


def exact_substring_runs(docs: DataFrame) -> DataFrame:
    """The q45 kernel over any (doc_id, text) frame — separated so the
    degenerate-corpus bound test (tests/test_lsh_guard.py) can drive it
    with an in-memory boilerplate corpus."""
    toks = _sub_tokens(docs)
    gram_arr = F.transform(
        F.sequence(F.lit(0), F.size("t") - _SUB_K),
        lambda i: F.struct(i.alias("p"), _sub_gram_md5("t", i).alias("g")),
    )
    grams = toks.select("doc_id", F.explode(gram_arr).alias("pg")).select(
        "doc_id", F.col("pg.p").alias("p"), F.col("pg.g").alias("g")
    )
    wcap = W.partitionBy("g").orderBy("doc_id", "p")
    capped = (
        grams.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _SUB_CAP)
        .drop("rn")
    )
    from ..session import default_parallelism

    cells = (
        capped.groupBy("g")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "p"))).alias("occ"))
        .filter(F.size("occ") >= 2)
        # explicit-width spread of the capped occurrence arrays: each
        # shared gram is ONE byte-light row whose expansion is up to
        # C(cap, 2) pairs — exactly the compute-dense shape AQE's
        # byte-based coalescing serializes to one task (the q06/q55
        # round-6 hardening; boilerplate-heavy corpora make this the
        # hot stage)
        .repartition(default_parallelism())
    )
    pair_arr = in_array_pairs(
        "occ",
        lambda a, b: F.struct(
            a["doc_id"].alias("doc_a"),
            b["doc_id"].alias("doc_b"),
            a["p"].alias("pa"),
            b["p"].alias("pb"),
        ),
    )
    pairs = (
        cells.select(F.explode(pair_arr).alias("x"))
        .select("x.*")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("diag", F.col("pa") - F.col("pb"))
    )
    wisl = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    return (
        pairs.withColumn("isl", F.col("pa") - F.row_number().over(wisl))
        .groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(
            F.min("pa").cast("bigint").alias("start_a"),
            F.min("pb").cast("bigint").alias("start_b"),
            (F.count(F.lit(1)) + _SUB_K - 1).cast("bigint").alias("run_tokens"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "run_tokens")
    )


@register(
    "q119_duplicated_spans",
    tags=("datapipe", "dedup", "substring"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, p, md5(array_to_string(t[p+1:p+{_SUB_K}], ' ')) AS g
  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - {_SUB_K})) AS p
        FROM toks WHERE len(t) >= {_SUB_K})
),
dupg AS (
  SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
),
duppos AS (
  SELECT doc_id, p FROM grams SEMI JOIN dupg USING (g)
),
flagged AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER w IS NULL
                OR p - lag(p) OVER w > {_SUB_K} THEN 1 ELSE 0 END AS new_isl
  FROM duppos
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
),
isl AS (
  SELECT doc_id, p,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS UNBOUNDED PRECEDING) AS isl
  FROM flagged
)
SELECT doc_id,
       CAST(min(p) AS BIGINT) AS span_start,
       CAST(max(p) + {_SUB_K} - min(p) AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_dup_grams
FROM isl GROUP BY doc_id, isl
""",
)
def q119_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCAPPED exact-substring cut list (Lee et al. 2022's
    ExactSubstr dedup, the published standard): for every document,
    every maximal token span in which each _SUB_K-gram occurs at
    least twice ANYWHERE in the corpus (another document or elsewhere
    in the same one) — the exact spans the dedup pass removes. Unlike
    q45's pair tier, there is no per-gram occurrence cap and no pair
    expansion: the answer to "which of MY positions are duplicated"
    never needs the occurrence LIST, only the occurrence COUNT, so
    the quadratic term the cap exists to bound is absent by
    construction — this restates the suffix-array sweep as sorted
    k-gram runs (round-12 verdict "what's missing" #3).

    Plan shape (audited): 2 parquet scans of the 2-column projection
    (the gram frame feeds both sides of the duplicated-gram semi join;
    re-scanning is the 100 TB-correct trade — a corpus-sized persist
    to save a pruned 2-column scan is memory spent on the cheapest
    stage). Duplicated grams come from a partial-aggregatable
    groupBy(g).count() — a viral boilerplate gram collapses to one row
    per map partition BEFORE the shuffle, so gram skew never builds a
    hot partition the way an occurrence-list window would. The semi
    join back is gram-keyed (skinny key side; AQE skew-split handles
    hot grams). Island detection runs per DOCUMENT (partition sizes
    bounded by doc length): gap > _SUB_K starts a new island — two
    duplicated gram positions p1 < p2 cover a contiguous token region
    iff p2 <= p1 + _SUB_K — and the final (doc_id, isl) aggregation
    reuses the window's hash(doc_id) exchange (subset-key
    colocation). Output is one row per maximal span: linear in the
    corpus, never in the duplication multiplicity.
    """
    return duplicated_spans(load(spark, sf_dir, "documents"))


def corpus_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, p, g): every overlapping _SUB_K-gram position of every
    document — the q119 occurrence frame, factored so the crawl-time
    streaming twin fits its duplicated-gram state with the identical
    gram definition."""
    toks = _sub_tokens(docs)
    gram_arr = F.transform(
        F.sequence(F.lit(0), F.size("t") - _SUB_K),
        lambda i: F.struct(i.alias("p"), _sub_gram_md5("t", i).alias("g")),
    )
    return toks.select("doc_id", F.explode(gram_arr).alias("pg")).select(
        "doc_id", F.col("pg.p").alias("p"), F.col("pg.g").alias("g")
    )


def duplicated_gram_set(grams: DataFrame) -> DataFrame:
    """(g): grams occurring >= 2 times in the frame — a
    partial-aggregatable COUNT (viral grams collapse map-side), never
    an occurrence list. This set IS the uncapped tier's fitted state:
    q119 semi-joins it in-plan; the streaming twin stores it."""
    return (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("g")
    )


def spans_from_dup_positions(dup_pos: DataFrame) -> DataFrame:
    """(doc_id, span_start, span_tokens, n_dup_grams): maximal islands
    (gap > _SUB_K starts a new one) from a (doc_id, p) duplicated-
    position frame — q119's island half, factored so the incremental
    detect (q136) computes spans over its bounded target set with the
    identical rule. Per-document windows; the final aggregation reuses
    the window's hash(doc_id) exchange."""
    wdoc = W.partitionBy("doc_id").orderBy("p")
    gap = F.col("p") - F.lag("p", 1).over(wdoc)
    flagged = dup_pos.withColumn(
        "new_isl", F.when(gap.isNull() | (gap > _SUB_K), 1).otherwise(0)
    )
    return (
        flagged.withColumn(
            "isl",
            F.sum("new_isl").over(wdoc.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .groupBy("doc_id", "isl")
        .agg(
            F.min("p").cast("bigint").alias("span_start"),
            (F.max("p") + _SUB_K - F.min("p")).cast("bigint").alias("span_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
        )
        .select("doc_id", "span_start", "span_tokens", "n_dup_grams")
    )


def duplicated_spans(docs: DataFrame) -> DataFrame:
    """The q119 kernel over any (doc_id, text) frame — separated so the
    boilerplate-corpus bound test (tests/test_lsh_guard.py) can drive
    it without parquet."""
    grams = corpus_grams(docs)
    dup_pos = grams.join(duplicated_gram_set(grams), "g", "semi")
    return spans_from_dup_positions(dup_pos.select("doc_id", "p"))


@register(
    "q46_substring_scrub",
    tags=("datapipe", "dedup", "substring"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, p, md5(array_to_string(t[p+1:p+{_SUB_K}], ' ')) AS g
  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - {_SUB_K})) AS p
        FROM toks WHERE len(t) >= {_SUB_K})
),
capped AS (
  SELECT doc_id, p, g FROM (
    SELECT doc_id, p, g,
           row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
    FROM grams) WHERE rn <= {_SUB_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
  FROM capped a JOIN capped b ON b.g = a.g AND a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_a, doc_b,
         CAST(min(pa) AS BIGINT) AS start_a,
         CAST(min(pb) AS BIGINT) AS start_b,
         CAST(count(*) + {_SUB_K} - 1 AS BIGINT) AS run_tokens
  FROM (
    SELECT doc_a, doc_b, pa, pb,
           pa - row_number() OVER (
             PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
    FROM pairs)
  GROUP BY doc_a, doc_b, pa - pb, isl
),
spans AS (SELECT doc_b AS doc_id, start_b, run_tokens FROM runs),
toks1 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 1),
pos AS (
  SELECT doc_id, unnest(t) AS tok,
         unnest(generate_series(0, len(t) - 1)) AS p
  FROM toks1
),
kept AS (
  SELECT doc_id, tok, p FROM pos o
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = o.doc_id
      AND o.p >= s.start_b AND o.p < s.start_b + s.run_tokens)
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(len(t.t) - count(k.p) AS BIGINT) AS n_removed,
       coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS cleaned_text
FROM toks1 t LEFT JOIN kept k ON k.doc_id = t.doc_id
GROUP BY t.doc_id, len(t.t)
""",
)
def q46_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of the exact-substring tier (Lee et al. 2021
    cut the duplicated SPANS, not the documents): every q45 maximal run
    is removed from its doc_b side (the lower doc_id keeps its copy —
    the q37/q50 min-id convention at span granularity), overlapping
    spans union naturally under the per-position mask, and the cleaned
    token-normalized text is emitted per document with before/after
    counts. A fully-duplicated doc_b scrubs to '' — exact-duplicate
    removal as the degenerate case.

    Plan shape: the q45 run detection feeds a per-doc span list
    (collect_list after a doc_b-keyed shuffle of the RUN rows — run
    output is bounded by the q45 caps, never corpus-scale), which
    left-joins the token table once; masking, reconstruction, and the
    removal counts are all IN-ARRAY per row (filter/exists/transform —
    no token explode, no per-position shuffle: the oracle explodes
    positions because SQL must, the Spark side never does). Docs with
    no tokens are excluded symmetrically in both engines (the one
    spot Spark's concat_ws('') and SQL's string_agg-over-nothing
    would disagree).
    """
    docs = load(spark, sf_dir, "documents")
    return apply_span_scrub(docs, scrub_spans(docs))


def scrub_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans): per-document removal-span lists from the q45
    run detection — the scrub's 'model'. Factored out of q46 so the
    streaming twin (streaming/substring.py) applies the SAME spans as
    a static frame to a live document stream; run output is bounded by
    the q45 caps, never corpus-scale."""
    runs = exact_substring_runs(docs)
    return (
        runs.select(F.col("doc_b").alias("doc_id"), "start_b", "run_tokens")
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("start_b", "run_tokens")).alias("spans"))
    )


def span_mask_cols(tcol, spans) -> list:
    """[n_tokens, n_removed, cleaned_text] from a token-array column
    and a (start_b, run_tokens) span-struct-array column — the
    in-array masking core (filter/exists/transform, no token explode),
    factored so apply_span_scrub (doc-keyed-join shape) and the
    crawl-time streaming twin (post-aggregation shape) share ONE
    masking semantics. Columns come pre-aliased to the q46/q132 names."""
    idx = F.transform(
        tcol, lambda x, i: F.struct(x.alias("tok"), i.cast("long").alias("p"))
    )
    kept = F.filter(
        idx,
        lambda pr: ~F.exists(
            spans,
            lambda s: (pr["p"] >= s["start_b"])
            & (pr["p"] < s["start_b"] + s["run_tokens"]),
        ),
    )
    return [
        F.size(tcol).cast("bigint").alias("n_tokens"),
        (F.size(tcol) - F.size(kept)).cast("bigint").alias("n_removed"),
        F.concat_ws(" ", F.transform(kept, lambda p: p["tok"])).alias("cleaned_text"),
    ]


def apply_span_scrub(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """q46's masking half: one doc-keyed left join of the span lists,
    then per-row IN-ARRAY masking/reconstruction via span_mask_cols.
    Works unchanged when `docs` is a stream and `spans` is static
    (map-side after the stream-static join, so append mode holds)."""
    toks = docs.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("t")
    ).filter(F.size("t") >= 1)
    j = toks.join(spans, "doc_id", "left").withColumn(
        "spans",
        F.coalesce(
            "spans", F.array().cast("array<struct<start_b:bigint,run_tokens:bigint>>")
        ),
    )
    return j.select("doc_id", *span_mask_cols(F.col("t"), F.col("spans")))


@register(
    "q132_duplicated_scrub",
    tags=("datapipe", "dedup", "substring"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, p, md5(array_to_string(t[p+1:p+{_SUB_K}], ' ')) AS g
  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - {_SUB_K})) AS p
        FROM toks WHERE len(t) >= {_SUB_K})
),
dupg AS (
  SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
),
duppos AS (
  SELECT doc_id, p FROM grams SEMI JOIN dupg USING (g)
),
flagged AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER w IS NULL
                OR p - lag(p) OVER w > {_SUB_K} THEN 1 ELSE 0 END AS new_isl
  FROM duppos
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
),
isl AS (
  SELECT doc_id, p,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS UNBOUNDED PRECEDING) AS isl
  FROM flagged
),
spans AS (
  SELECT doc_id,
         CAST(min(p) AS BIGINT) AS start_b,
         CAST(max(p) + {_SUB_K} - min(p) AS BIGINT) AS run_tokens
  FROM isl GROUP BY doc_id, isl
),
toks1 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 1),
pos AS (
  SELECT doc_id, unnest(t) AS tok,
         unnest(generate_series(0, len(t) - 1)) AS p
  FROM toks1
),
kept AS (
  SELECT doc_id, tok, p FROM pos o
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = o.doc_id
      AND o.p >= s.start_b AND o.p < s.start_b + s.run_tokens)
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(len(t.t) - count(k.p) AS BIGINT) AS n_removed,
       coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS cleaned_text
FROM toks1 t LEFT JOIN kept k ON k.doc_id = t.doc_id
GROUP BY t.doc_id, len(t.t)
""",
)
def q132_duplicated_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of the UNCAPPED tier: apply q119's exact cut
    list — every maximal duplicated span is removed from EVERY document
    that carries it (Lee et al.'s released ExactSubstr tool cuts all
    occurrences of a duplicated substring; the keep-one-copy policy is
    the capped pair tier's q46). Together q119+q132 are the detect and
    apply halves of the published exact-dedup pass, with no occurrence
    cap anywhere.

    Plan shape: q119's span detection (counts + islands — linear,
    gated) feeds a per-doc span list; the masking half is the SHARED
    apply_span_scrub kernel (one doc-keyed left join, in-array
    masking/reconstruction — no token explode, no per-position
    shuffle), so the scrub semantics exist once across q46/q112/q132
    and the streaming twin."""
    docs = load(spark, sf_dir, "documents")
    spans = (
        duplicated_spans(docs)
        .select(
            "doc_id",
            F.struct(
                F.col("span_start").alias("start_b"),
                F.col("span_tokens").alias("run_tokens"),
            ).alias("sp"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list("sp").alias("spans"))
    )
    return apply_span_scrub(docs, spans)


# --------------------------------------------------------------------------
# q136 — incremental ExactSubstr DETECT (round 14): the nightly
# maintenance job between crawls for the uncapped tier. q119 is the
# full-corpus detect; q132 applies its cut list; the streaming twin
# scrubs arrivals against the FITTED gram set. What a deployment runs
# when a crawl lands is the DELTA detect: fold the batch's gram counts
# into the stored history counts and emit only the span rows that must
# change — every span of every batch document, plus the full
# replacement span set of each history document that carries a
# NEWLY-duplicated gram (history count < 2, history+batch count >= 2).
# History documents with no newly-duplicated position are provably
# unchanged: duplication counts only grow, so an old duplicated
# position stays duplicated, and a doc whose positions' grams all kept
# their old side of the >= 2 threshold has the identical flag vector,
# hence identical islands — its stored spans remain valid and it emits
# nothing.


@register(
    "q136_incremental_spans",
    tags=("datapipe", "dedup", "substring", "incremental"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, p, md5(array_to_string(t[p+1:p+{_SUB_K}], ' ')) AS g
  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - {_SUB_K})) AS p
        FROM toks WHERE len(t) >= {_SUB_K})
),
cnts AS (
  SELECT g, count(CASE WHEN doc_id % 10 < 8 THEN 1 END) AS hn,
         count(CASE WHEN doc_id % 10 >= 8 THEN 1 END) AS bn
  FROM grams GROUP BY g
),
dup_new AS (SELECT g FROM cnts WHERE hn + bn >= 2),
newly AS (SELECT g FROM cnts WHERE hn < 2 AND hn + bn >= 2),
affected AS (
  SELECT DISTINCT doc_id FROM grams SEMI JOIN newly USING (g)
  WHERE doc_id % 10 < 8
),
targets AS (
  SELECT doc_id, p, g FROM grams WHERE doc_id % 10 >= 8
  UNION ALL
  SELECT g2.doc_id, p, g FROM grams g2 SEMI JOIN affected USING (doc_id)
  WHERE g2.doc_id % 10 < 8
),
duppos AS (SELECT doc_id, p FROM targets SEMI JOIN dup_new USING (g)),
flagged AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER w IS NULL
                OR p - lag(p) OVER w > {_SUB_K} THEN 1 ELSE 0 END AS new_isl
  FROM duppos
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
),
isl AS (
  SELECT doc_id, p,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS UNBOUNDED PRECEDING) AS isl
  FROM flagged
)
SELECT doc_id,
       CAST(min(p) AS BIGINT) AS span_start,
       CAST(max(p) + {_SUB_K} - min(p) AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_dup_grams,
       doc_id % 10 >= 8 AS is_batch
FROM isl GROUP BY doc_id, isl
""",
)
def q136_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr detect: the span-table DELTA a crawl
    batch (doc_id % 10 >= 8, the q13 ingestion split) induces on the
    stored q119 state. Emits every span of every batch document plus
    the full replacement span set of each AFFECTED history document —
    one that carries at least one newly-duplicated gram (history count
    < 2, combined count >= 2). Unaffected history documents emit
    nothing: their stored spans are provably still exact (counts only
    grow — see the module comment's monotonicity argument, pinned by
    tests/test_incremental_spans.py's composition check against a full
    q119 rerun).

    Scale shape: ONE partial-aggregatable per-gram count with both
    slice counts as conditional sums (a viral gram collapses map-side
    — the q119 property, kept); the newly-duplicated set is a
    gram-keyed semi join that bounds everything downstream to the
    batch's blast radius — island windows and the span aggregation run
    only over batch + affected-history documents, never the corpus.
    In production the history counts are read from the stored state
    table; here they derive in-plan from the history slice (the
    q114/q120 precedent for self-contained queries). 3 scans of the
    2-col projection (counts, affected probe, target rebuild) — the
    same re-scan-over-persist trade q119 documents. No cap operator
    anywhere: this tier is exact, and the gate forbids
    WindowGroupLimit re-entering."""
    docs = load(spark, sf_dir, "documents")
    grams = corpus_grams(docs)
    is_hist = F.col("doc_id") % 10 < 8
    cnts = grams.groupBy("g").agg(
        F.count(F.when(is_hist, F.lit(1))).alias("hn"),
        F.count(F.when(~is_hist, F.lit(1))).alias("bn"),
    )
    dup_new = cnts.filter(F.col("hn") + F.col("bn") >= 2).select("g")
    newly = cnts.filter((F.col("hn") < 2) & (F.col("hn") + F.col("bn") >= 2)).select("g")
    affected = (
        grams.filter(is_hist).join(newly, "g", "semi").select("doc_id").distinct()
    )
    # ONE gram derivation for the target set (a union of per-slice
    # filters would re-derive the scan per side — 4 scans; the audit
    # caps 3): affected is distinct doc_ids, so the left join never
    # multiplies rows, and the filter keeps batch docs + marked
    # history docs
    targets = (
        grams.join(affected.withColumn("_aff", F.lit(1)), "doc_id", "left")
        .filter(~is_hist | F.col("_aff").isNotNull())
    )
    dup_pos = targets.join(dup_new, "g", "semi").select("doc_id", "p")
    return spans_from_dup_positions(dup_pos).withColumn(
        "is_batch", F.col("doc_id") % 10 >= 8
    )


# --------------------------------------------------------------------------
# q47 — incremental substring-containment screen: the q13 pattern
# (new batch vs. already-ingested history) at the substring tier. A
# crawl batch is screened for documents that are MOSTLY made of
# k-grams the history already contains — near-copies, templated spam,
# and cross-crawl boilerplate that exact-fingerprint dedup (q13) and
# pairwise run detection (q45) bracket from either side.

_SUB_CONTAIN = 0.5  # flag threshold: half the doc's grams seen before


def doc_distinct_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, g): each ROW's distinct k-gram hashes. The distinct set
    builds IN-ARRAY (array_distinct before the explode — map-side, the
    q09 idiom), so no per-doc dedup shuffle exists and the function
    runs unchanged on streaming frames (streaming/substring.py).
    PER-ROW distinctness, not per-doc_id: duplicate ids contribute
    their grams once per row, matching the oracle's per-row
    list_distinct — the id-uniqueness data contract (q12 audit) is
    validated upstream, not silently repaired here."""
    toks = _sub_tokens(docs)
    gram_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("t") - _SUB_K),
            lambda i: _sub_gram_md5("t", i),
        )
    )
    return toks.select("doc_id", F.explode(gram_arr).alias("g"))


def substring_containment(batch_docs: DataFrame, hist_grams: DataFrame) -> DataFrame:
    """Per-batch-doc containment against a history gram set: gram-keyed
    left join (both sides co-partition on g; the history side is read,
    never re-screened — the q13 incremental shape) + one per-doc
    aggregation. Works on batch and streaming batch_docs frames alike
    (stream-static join + single aggregation).

    PRECONDITION: hist_grams must be gram-DISTINCT (one row per g).
    A duplicate gram would fan the left join out and inflate BOTH
    counts (containment could exceed 1.0) with no error — both
    in-repo builders (.distinct() in q47 / history_gram_set) satisfy
    this; a nightly-maintained production table must too."""
    bg = doc_distinct_grams(batch_docs)
    j = bg.join(hist_grams.withColumn("_hit", F.lit(1)), "g", "left")
    agg = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint").alias("n_history_grams"),
    )
    containment = F.col("n_history_grams").cast("double") / F.col("n_grams")
    return agg.select(
        "doc_id",
        "n_grams",
        "n_history_grams",
        containment.alias("containment"),
        (containment >= _SUB_CONTAIN).alias("flagged"),
    )


@register(
    "q47_substring_containment",
    tags=("datapipe", "dedup", "substring", "incremental"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, md5(array_to_string(t[p+1:p+{_SUB_K}], ' ')) AS g
  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - {_SUB_K})) AS p
        FROM toks WHERE len(t) >= {_SUB_K})
),
hist AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 < 8),
bg AS (
  -- PER-ROW distinct grams (list_distinct before the unnest), NOT
  -- DISTINCT doc_id, g: duplicate batch doc_ids contribute their
  -- grams once per row in Spark's in-array build, and a cross-row
  -- DISTINCT here would silently collapse them only on the oracle
  -- side (round-9 review find)
  SELECT doc_id,
         unnest(list_distinct(
           [md5(array_to_string(t[p+1:p+{_SUB_K}], ' '))
            FOR p IN generate_series(0, len(t) - {_SUB_K})])) AS g
  FROM toks WHERE len(t) >= {_SUB_K} AND doc_id % 10 >= 8
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(h.g) AS BIGINT) AS n_history_grams,
       CAST(count(h.g) AS DOUBLE) / count(*) AS containment,
       CAST(count(h.g) AS DOUBLE) / count(*) >= {_SUB_CONTAIN} AS flagged
FROM bg b LEFT JOIN hist h USING (g)
GROUP BY b.doc_id
""",
)
def q47_substring_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring screen: for each incoming-batch document
    (the q13 slice convention — doc_id % 10 >= 8 stands in for
    "today's crawl"), the fraction of its distinct k-grams already
    present anywhere in the ingested history; flagged at
    >= _SUB_CONTAIN. Division of two exact small ints is IEEE-identical
    in both engines, so the fraction needs no rounding.

    Scale shape: per-doc distinct gram sets build in-array (map-side,
    no dedup shuffle); the history side is ONE distinct over gram
    hashes, computed once per batch and never re-screened; the join
    co-partitions on g; the final aggregation is doc-keyed. The same
    kernel runs the streaming twin (streaming/substring.py) as a
    stream-static join — history stays a static frame, the batch is
    the stream.
    """
    docs = load(spark, sf_dir, "documents")
    hist = doc_distinct_grams(docs.filter(F.col("doc_id") % 10 < 8)).select("g").distinct()
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    return substring_containment(batch, hist)


# --------------------------------------------------------------------------
# Intra-document repetition (round-9 verdict "what's missing" #1): q45
# emits only CROSS-document runs (doc_a < doc_b), so a document that
# repeats its OWN boilerplate sails through the substring tier — q88's
# dup-2-gram ratio is a coarse scalar gate, not span detection.
# Self-repetition scrubbing is the same Lee et al. 2021 machinery on
# the nonzero diagonals of a doc against itself. The gram width is
# SHORTER than the cross-doc tier's (_SELF_K=3 vs _SUB_K=8): the
# intra-doc failure mode is short-period stutter and repeated phrases
# ("the the the", looping sentence templates), which an 8-token
# minimum would never see, while cross-doc boilerplate needs the wider
# gram to keep the shared-gram tier sparse.

_SELF_K = 3  # minimum detectable self-repeat length, in tokens


def selfrep_runs(docs: DataFrame) -> DataFrame:
    """Maximal same-document exact repeat runs >= _SELF_K tokens: one
    row per maximal run with the earlier copy's start (start_a), the
    later copy's start (start_b > start_a), and the run length in
    tokens. The q45 island kernel on the doc's self-pairs: pairs are
    (pa, pb) with pa < pb and equal grams, grouped by the nonzero
    diagonal d = pb - pa; consecutive pa along one diagonal chain into
    a maximal run. Periodic text collapses naturally (period-p text
    yields one long run per multiple of p; the d < k overlap case is
    legitimate — "x x x x" at k=3 is one 3-token run at d=1).

    Plan shape (audited like q45): grams build IN-ARRAY; the per-gram
    occurrence cap is keyed (doc_id, g) — finer than q45's corpus-wide
    g key, because pairs only ever form inside one document — and
    plans as a map-side Partial WindowGroupLimit; pair expansion is
    in-array over the capped per-(doc, gram) position array (bounded
    C(_SUB_CAP, 2) per gram); the island window and the maximal-run
    groupBy share the (doc_id, d) exchange via the materialized `d`
    column. 2 hash exchanges on doc-fine keys + 1 explicit-width
    round-robin spread; no join, no cartesian.
    """
    toks = _sub_tokens(docs, _SELF_K)
    gram_arr = F.transform(
        F.sequence(F.lit(0), F.size("t") - _SELF_K),
        lambda i: F.struct(i.alias("p"), _sub_gram_md5("t", i, _SELF_K).alias("g")),
    )
    grams = toks.select("doc_id", F.explode(gram_arr).alias("pg")).select(
        "doc_id", F.col("pg.p").alias("p"), F.col("pg.g").alias("g")
    )
    wcap = W.partitionBy("doc_id", "g").orderBy("p")
    capped = (
        grams.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _SUB_CAP)
        .drop("rn")
    )
    from ..session import default_parallelism

    cells = (
        capped.groupBy("doc_id", "g")
        .agg(F.array_sort(F.collect_list("p")).alias("ps"))
        .filter(F.size("ps") >= 2)
        # the q06/q55/q45 AQE-coalesce hardening: each repeated gram is
        # one byte-light row expanding to up to C(cap, 2) pairs
        .repartition(default_parallelism())
    )
    pair_arr = in_array_pairs("ps", lambda a, b: F.struct(a.alias("pa"), b.alias("pb")))
    pairs = (
        cells.select("doc_id", F.explode(pair_arr).alias("x"))
        .select("doc_id", F.col("x.pa").alias("pa"), F.col("x.pb").alias("pb"))
        .withColumn("d", F.col("pb") - F.col("pa"))
        # strict diagonal: positions within one row are distinct, so
        # d > 0 always holds on contract-satisfying corpora — but a
        # duplicate doc_id merges two rows' identical position sets
        # into one cell, and the in-array expansion would pair a
        # position with its own copy (d = 0) where the oracle's
        # b.p > a.p never does. With the filter, both engines see the
        # same pair multiset even under duplicate ids (q45's
        # doc_a < doc_b analog), keeping the tier OUT of the
        # duplicate-id divergence family.
        .filter(F.col("d") > 0)
    )
    wisl = W.partitionBy("doc_id", "d").orderBy("pa")
    return (
        pairs.withColumn("isl", F.col("pa") - F.row_number().over(wisl))
        .groupBy("doc_id", "d", "isl")
        .agg(
            F.min("pa").cast("bigint").alias("start_a"),
            F.min("pb").cast("bigint").alias("start_b"),
            (F.count(F.lit(1)) + _SELF_K - 1).cast("bigint").alias("run_tokens"),
        )
        .select("doc_id", "start_a", "start_b", "run_tokens")
    )


_SELF_ORACLE_RUNS = f"""
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, p, md5(array_to_string(t[p+1:p+{_SELF_K}], ' ')) AS g
  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - {_SELF_K})) AS p
        FROM toks WHERE len(t) >= {_SELF_K})
),
capped AS (
  SELECT doc_id, p, g FROM (
    SELECT doc_id, p, g,
           row_number() OVER (PARTITION BY doc_id, g ORDER BY p) AS rn
    FROM grams) WHERE rn <= {_SUB_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_id, a.p AS pa, b.p AS pb
  FROM capped a JOIN capped b
    ON b.doc_id = a.doc_id AND b.g = a.g AND b.p > a.p
),
runs AS (
  SELECT doc_id,
         CAST(min(pa) AS BIGINT) AS start_a,
         CAST(min(pb) AS BIGINT) AS start_b,
         CAST(count(*) + {_SELF_K} - 1 AS BIGINT) AS run_tokens
  FROM (
    SELECT doc_id, pa, pb,
           pa - row_number() OVER (
             PARTITION BY doc_id, pb - pa ORDER BY pa) AS isl
    FROM pairs)
  GROUP BY doc_id, pb - pa, isl
)"""


@register(
    "q63_selfrep_runs",
    tags=("datapipe", "dedup", "substring", "selfrep"),
    oracle=f"""
WITH {_SELF_ORACLE_RUNS}
SELECT doc_id, start_a, start_b, run_tokens FROM runs
""",
)
def q63_selfrep_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition runs — see selfrep_runs."""
    return selfrep_runs(load(spark, sf_dir, "documents"))


@register(
    "q66_selfrep_scrub",
    tags=("datapipe", "dedup", "substring", "selfrep"),
    oracle=f"""
WITH {_SELF_ORACLE_RUNS},
spans AS (SELECT doc_id, start_b, run_tokens FROM runs),
toks1 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 1),
pos AS (
  SELECT doc_id, unnest(t) AS tok,
         unnest(generate_series(0, len(t) - 1)) AS p
  FROM toks1
),
kept AS (
  SELECT doc_id, tok, p FROM pos o
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = o.doc_id
      AND o.p >= s.start_b AND o.p < s.start_b + s.run_tokens)
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(len(t.t) - count(k.p) AS BIGINT) AS n_removed,
       coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS cleaned_text
FROM toks1 t LEFT JOIN kept k ON k.doc_id = t.doc_id
GROUP BY t.doc_id, len(t.t)
""",
)
def q66_selfrep_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of the intra-doc tier: every selfrep_runs
    maximal run is cut on its LATER side (start_b > start_a — the
    first occurrence stays, repeats go; the q46 min-side convention
    turned inward). Overlapping spans union under the per-position
    mask; a perfectly periodic document scrubs down to its first
    period. Every document gets a row (n_removed = 0 for the
    non-repetitive majority), so the scrub doubles as the per-doc
    self-repetition report.

    Plan shape mirrors q46: the run detection feeds a doc-keyed span
    list (run output bounded by the per-(doc, gram) caps), ONE left
    join against the token table, and masking/reconstruction/counts
    are all in-array per row — no token explode Spark-side (the
    oracle explodes positions because SQL must).
    """
    return selfrep_scrub(load(spark, sf_dir, "documents"))


def selfrep_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans): per-document LATER-copy removal spans from the
    q102 run detection — the intra-doc scrub's 'model', factored like
    scrub_spans so the streaming twin applies the SAME spans as a
    static frame (streaming/substring.py); run output is bounded by
    the per-(doc, gram) caps, never corpus-scale."""
    return (
        selfrep_runs(docs)
        .select("doc_id", "start_b", "run_tokens")
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("start_b", "run_tokens")).alias("spans"))
    )


def selfrep_scrub(docs: DataFrame) -> DataFrame:
    """The q103 kernel over any (doc_id, text) frame — separated so the
    periodic-document semantics test (tests/test_lsh_guard.py) can
    drive it with engineered stutter corpora. The masking half IS
    q46's apply_span_scrub (one doc-keyed join, in-array mask) — one
    definition for both scrub tiers."""
    return apply_span_scrub(docs, selfrep_spans(docs))
