"""End-to-end curation funnel — the whole pretraining data-assembly
chain as ONE declarative plan (public knowledge: this is the
Gopher/RefinedWeb/CCNet pipeline order — heuristic quality gate →
exact dedup → LM perplexity band → per-source budget), reported as a
per-source funnel so an operator can see where documents die.

Stages, each a FLAG on one corpus pass (no stage re-scans the lake):

1. quality gate: >= 30 tokens and >= 0.35 distinct-token ratio (the
   q104 label rule — the heuristic the learned tier bootstraps from);
2. exact dedup: md5 canonical winner = min doc_id per fingerprint
   among quality survivors (the q28/q13 convention);
3. perplexity band: an add-one bigram LM (queries/perplexity.py
   helpers, fitted on the SURVIVOR population's target-source slice)
   scores each survivor; CCNet keeps head+middle, so the cut is
   mb >= t2 over the survivor (lang, milli-nat) distribution —
   bigram-less survivors (single-token docs) fail the band;
4. token budget: q107's greedy quality-ranked prefix per source over
   band survivors (budget = a third of surviving token mass), via the
   same two-phase distribution + boundary-group decomposition — here
   producing per-DOC flags, so the group decision table (distribution
   -sized) broadcasts back onto the survivor frame and ONLY the
   boundary group's documents see a window.

Scale shape: one corpus scan builds the flag frame; the LM fit
aggregates the survivor target slice into vocabulary-bounded tables;
the band thresholds and budget boundaries come from distribution
tables (the q26 restatement, twice); the only row-level windows are
the per-fingerprint dedup winner (key-partitioned on the md5 — fine
at any scale) and the boundary-group running sum (one length-group
per source). Every output column is an integer.

Determinism: inherits each stage's attested discipline — the mb
milli-nat (decimal sum → one IEEE division → floor), integer budget
arithmetic, md5 canonical ids. Duplicate-id posture: the dedup stage
is keyed by fingerprint (not id), and min(doc_id) over identical
copies is merge-invariant, so both engines classify duplicate copies
identically (CI probe adjudicates).

No reference analog (the reference has no curation surface); this is
the composition of q104's label rule, q28/q13's dedup, q106's bands,
and q107's budget into the plan a real corpus build would run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..tables import load
from . import register
from .perplexity import _MILLI, _bigrams, fit_bigram_lm, join_lm, milli_col

_FUN_MIN_TOKENS = 30
_FUN_MIN_UNIQ = 0.35  # distinct-token ratio floor (q104's label rule)


@register(
    "q72_curation_funnel",
    tags=("datapipe", "quality", "dedup", "lm", "selection", "pipeline"),
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, source, lang, n_chars, text,
         string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS tc
  FROM documents WHERE text IS NOT NULL
),
flagged AS MATERIALIZED (
  -- the gate counts FILTERED tokens (q104's convention: doubled
  -- spaces don't make a doc longer); the CASE keeps the ratio's
  -- division unreachable when the filtered count is below the floor
  SELECT *,
         CASE WHEN len(list_filter(t, x -> x <> '')) >= {_FUN_MIN_TOKENS}
              THEN CAST(len(list_distinct(list_filter(t, x -> x <> '')))
                        AS DOUBLE)
                   / len(list_filter(t, x -> x <> '')) >= {_FUN_MIN_UNIQ}
              ELSE false END AS q_pass,
         md5(text) AS fp
  FROM base
),
canon AS MATERIALIZED (
  SELECT *,
         q_pass AND doc_id = min(doc_id)
             FILTER (WHERE q_pass) OVER (PARTITION BY fp) AS is_canon
  FROM flagged
),
surv1 AS MATERIALIZED (SELECT * FROM canon WHERE is_canon),
tsrc AS MATERIALIZED (SELECT min(source) AS tsrc FROM surv1),
tbase AS MATERIALIZED (
  SELECT * FROM surv1 WHERE source = (SELECT tsrc FROM tsrc)
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
        FROM surv1)
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
  SELECT lang,
         min(CASE WHEN cum - cnt + 1 <= (2 * n + 2) // 3 THEN mb END) AS t2
  FROM cum GROUP BY lang
),
surv2 AS MATERIALIZED (
  SELECT s.*
  FROM surv1 s
  JOIN perdoc p ON p.doc_id = s.doc_id AND p.lang IS NOT DISTINCT FROM s.lang
  JOIN th ON th.lang IS NOT DISTINCT FROM s.lang
  WHERE p.mb >= th.t2
),
sel AS MATERIALIZED (
  SELECT doc_id,
         sum(tc) OVER (PARTITION BY source
                       ORDER BY n_chars DESC NULLS LAST, doc_id ASC NULLS FIRST
                       ROWS UNBOUNDED PRECEDING)
           <= sum(tc) OVER (PARTITION BY source) // 3 AS kept,
         tc
  FROM surv2
)
SELECT c.source,
       count(*) AS n_docs,
       CAST(count(*) FILTER (WHERE c.q_pass) AS BIGINT) AS n_quality,
       CAST(count(*) FILTER (WHERE c.is_canon) AS BIGINT) AS n_canonical,
       CAST(count(*) FILTER (WHERE s2.doc_id IS NOT NULL) AS BIGINT) AS n_banded,
       CAST(count(*) FILTER (WHERE sel.kept) AS BIGINT) AS n_selected,
       CAST(coalesce(sum(sel.tc) FILTER (WHERE sel.kept), 0) AS BIGINT)
         AS toks_selected
FROM canon c
LEFT JOIN surv2 s2 ON s2.doc_id = c.doc_id
LEFT JOIN sel ON sel.doc_id = c.doc_id
GROUP BY c.source
""",
)
def q72_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel report: per source, how many documents
    survive each stage and how many tokens the budget finally admits."""
    from ..session import default_parallelism, persist_tracked

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # ONE corpus exchange where round 14 had two (guide §2.4 "two
    # operations keyed the same way can often share one exchange"):
    # the old shape round-robin-repartitioned the corpus to spread the
    # split/md5/ratio compute off the scan tasks, then paid a SECOND
    # full-text exchange for the dedup window's hashpartitioning(fp).
    # Repartitioning BY fp directly does both jobs at once — only the
    # per-row md5 stays on the scan tasks (far cheaper than the
    # split + array_distinct work, which now runs spread AFTER the
    # exchange), the window's ENSURE_REQUIREMENTS exchange is elided
    # because the input already satisfies ClusteredDistribution(fp),
    # and the token array `t` (which roughly doubles the text bytes
    # and rode the old round-robin exchange) is derived post-exchange
    # so it never crosses a shuffle at all (§2.3). Duplicate-text skew
    # lands on the same fp keys the old window exchange hashed by, so
    # the skew posture is unchanged.
    base = (
        docs.select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            "text",
            F.md5(F.col("text").cast("binary")).alias("fp"),
        )
        .repartition(default_parallelism(), "fp")
        .select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            "text",
            F.split("text", " ").alias("t"),
            F.size(F.split("text", " ")).cast("bigint").alias("tc"),
            "fp",
        )
    )
    # the quality gate uses q104's FILTERED-token convention (empty
    # tokens from doubled spaces don't count — _qc_rows filters them
    # before tc and the distinct ratio; round-11 review caught this
    # gate counting raw split tokens, which let a space-padded short
    # doc through). The LM and budget stages keep their own tiers'
    # raw-split conventions (q106/q14), each documented there.
    qt = F.filter(F.col("t"), lambda x: x != "")
    qn = F.size(qt)
    quniq = F.size(F.array_distinct(qt)).cast("double") / qn
    flagged = base.withColumn(
        "q_pass",
        F.when(
            qn >= F.lit(_FUN_MIN_TOKENS), quniq >= F.lit(_FUN_MIN_UNIQ)
        ).otherwise(F.lit(False)),
    )
    wfp = W.partitionBy("fp")
    # persist_tracked at every reuse cut (q25/dsir/q107 discipline —
    # the first formulation re-derived these subtrees per consumer: 46
    # corpus scans, 95 exchanges). The flag frame is the one
    # corpus-sized cache (MEMORY_AND_DISK spills at lake scale; a
    # production build would stage it to a table between stages); the
    # token array is dropped before caching and re-split where needed
    # so the cache holds one text copy, not two.
    canon = persist_tracked(
        flagged.withColumn(
            "is_canon",
            F.col("q_pass")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("q_pass"), F.col("doc_id"))).over(wfp)
            ),
        ).drop("t", "fp")
    )
    surv1 = canon.filter(F.col("is_canon")).select(
        "doc_id", "source", "lang", "n_chars", "text", "tc"
    ).withColumn("t", F.split("text", " "))

    # stage 3: bands over the survivor population (helpers shared with
    # q106 — the fit sees only surv1, so its target slice and vocab are
    # the CLEAN corpus's, as CCNet prescribes). c2 caches (vocab-sized)
    # because c1 re-aggregates it and the scoring join reads it again;
    # perdoc caches (compact: 3 columns per surviving doc) because the
    # distribution AND the band filter consume it.
    lm_docs = surv1.select("doc_id", "lang", "source", "text")
    c2, c1, voc = fit_bigram_lm(lm_docs)
    c2 = persist_tracked(c2)
    c1 = c2.groupBy("lang", "w1").agg(F.sum("n12").alias("n1"))
    lp = join_lm(_bigrams(surv1, "doc_id", "lang"), c2, c1, voc)
    perdoc = persist_tracked(
        lp.groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("nb"), F.sum("logp").alias("s"))
        .select("doc_id", "lang", milli_col(F.col("s"), F.col("nb")))
    )
    # one threshold row per language, off the SHARED tertile helper (the
    # cut rule must not exist twice — round-11 review)
    from .perplexity import dist_with_tertiles

    th = dist_with_tertiles(perdoc).select("lang", "t2").distinct()
    pd_r = perdoc.select(
        F.col("doc_id").alias("p_id"), F.col("lang").alias("p_lang"), "mb"
    )
    th_r = th.select(F.col("lang").alias("t_lang"), "t2")
    # surv2 caches (4 compact columns per band survivor): the budget
    # distribution, the selection join, and the funnel assembly all
    # consume it
    surv2 = persist_tracked(
        surv1.join(
            pd_r,
            (F.col("doc_id") == F.col("p_id"))
            & F.col("lang").eqNullSafe(F.col("p_lang")),
        )
        .join(F.broadcast(th_r), F.col("lang").eqNullSafe(F.col("t_lang")))
        .filter(F.col("mb") >= F.col("t2"))
        .select("doc_id", "source", "n_chars", "tc")
    )

    # stage 4: budget flags via the q107 two-phase shape — the group
    # decision table broadcasts; only the boundary group's docs window
    g = surv2.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("tc").alias("gtok")
    )
    wsrc = W.partitionBy("source")
    # distribution-sized cache barrier (the round-14 #5 pattern): BOTH
    # budget branches (wholesale-kept + boundary) broadcast-build from
    # gcum, and without the barrier each build replays the
    # groupBy(source, n_chars) exchange + the source windows over the
    # surv2 cache (r15-start plan: exchanges 129/131 and 145/147 are
    # the same chain twice). gcum is one row per (source, n_chars)
    # length-group — never corpus-sized.
    gcum = persist_tracked(
        g.withColumn(
            "gcum",
            F.sum("gtok").over(
                wsrc.orderBy(F.col("n_chars").desc_nulls_last()).rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            ),
        )
        .withColumn("tot", F.sum("gtok").over(wsrc))
        .withColumn("budget", F.expr("tot div 3"))
        .select(
            F.col("source").alias("g_src"),
            F.col("n_chars").alias("g_chars"),
            (F.col("gcum") <= F.col("budget")).alias("g_full"),
            ((F.col("gcum") > F.col("budget"))
             & (F.col("gcum") - F.col("gtok") <= F.col("budget"))).alias("g_bnd"),
            (F.col("budget") - (F.col("gcum") - F.col("gtok"))).alias("remaining"),
        )
    )
    # wholesale-kept docs never see a window; ONLY the boundary
    # group's documents (at most one length-group per source) are
    # joined and running-summed. The first draft joined ALL survivors
    # and computed the window everywhere with the g_full branch merely
    # masking it — Spark still shuffled and sorted the whole survivor
    # frame (round-11 review). Docs in post-boundary groups match
    # neither side and fall out; the funnel's left join reads absent
    # as not-kept.
    full_docs = surv2.join(
        F.broadcast(gcum.filter(F.col("g_full"))),
        surv2.source.eqNullSafe(F.col("g_src"))
        & surv2.n_chars.eqNullSafe(F.col("g_chars")),
        "left_semi",
    ).select(
        F.col("doc_id").alias("s_id"),
        F.lit(True).alias("kept"),
        F.col("tc").alias("s_tc"),
    )
    bnd_in = surv2.join(
        F.broadcast(gcum.filter(F.col("g_bnd"))),
        surv2.source.eqNullSafe(F.col("g_src"))
        & surv2.n_chars.eqNullSafe(F.col("g_chars")),
    )
    bwin = (
        W.partitionBy("g_src", "g_chars")
        .orderBy(F.col("doc_id").asc_nulls_first())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    bnd_docs = bnd_in.withColumn(
        "kept", F.sum("tc").over(bwin) <= F.col("remaining")
    ).select(F.col("doc_id").alias("s_id"), "kept", F.col("tc").alias("s_tc"))
    sel = full_docs.unionByName(bnd_docs)

    # funnel assembly: band/selection flags join back onto the flag
    # frame by doc id (band survivors are a subset, so left joins)
    s2_r = surv2.select(F.col("doc_id").alias("b_id"))
    out = (
        canon.select("doc_id", "source", "q_pass", "is_canon")
        .join(s2_r, F.col("doc_id") == F.col("b_id"), "left")
        .join(sel, F.col("doc_id") == F.col("s_id"), "left")
    )
    zero = F.lit(0).cast("bigint")
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("q_pass"), 1).otherwise(zero)).cast("bigint").alias("n_quality"),
        F.sum(F.when(F.col("is_canon"), 1).otherwise(zero)).cast("bigint").alias("n_canonical"),
        F.sum(F.when(F.col("b_id").isNotNull(), 1).otherwise(zero)).cast("bigint").alias("n_banded"),
        F.sum(F.when(F.col("kept"), 1).otherwise(zero)).cast("bigint").alias("n_selected"),
        F.coalesce(
            F.sum(F.when(F.col("kept"), F.col("s_tc")).otherwise(zero)), F.lit(0)
        ).cast("bigint").alias("toks_selected"),
    )
