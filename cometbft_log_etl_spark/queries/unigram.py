"""Unigram-LM (SentencePiece-style) tokenizer fit + encode.

The tokenizer family so far is BPE (q16 fit / q18 encode / q113 regex
budget). Modern pipelines predominantly tokenize with a unigram
language model (Kudo 2018, "Subword Regularization"; the SentencePiece
default): a piece vocabulary with per-piece log-probabilities, words
segmented by the Viterbi-best decomposition. This module fits that
model as hard-EM (Viterbi E-step → usage-count M-step), the
deterministic variant of Kudo's EM, in the same driver-looped,
oracle-unrolled shape as the BPE fit (round-12 verdict "next round"
#2):

  word-frequency table (ONE corpus-sized aggregation)
    → candidate substrings (in-array build, lengths 1.._UNI_MAX_PIECE,
      one explode) → vocab = ALL single chars (guaranteed coverage,
      SentencePiece's required-character rule) + top _UNI_VOCAB_MULTI
      multi-char candidates by (count DESC, piece ASC)
    → per EM round: Viterbi-segment every DISTINCT word under the
      current model (a JVM-side higher-order fold — no Python in the
      hot path), piece-usage counts weighted by word freq (map-side
      partial agg), add-one re-estimate of the log-probs.

Scale shape: everything after the word count iterates over the
VOCABULARY-BOUNDED word table; the model itself (<= ~single chars +
_UNI_VOCAB_MULTI rows) is the only driver-side state, embedded back as
a map literal per round — the broadcast-model pattern the DSIR/bigram
tiers use. The per-word DP is linear in word length with a
_UNI_MAX_PIECE lookback.

Determinism: the DP objective is (sum of per-piece log-probs, then
LONGER last piece) — path scores are exact DECIMAL sums of
9-rounded log-probs, so ties are well-defined and broken identically
in both engines by (score, piece_len) struct max. Transcendentals
follow the q106/q15 rule: every ln is rounded at 9 and cast to
DECIMAL(14,9) before any sum. Words longer than _UNI_LMAX bypass the
DP and segment as single characters (the guaranteed-coverage
fallback) — that rule exists so the DuckDB oracle can unroll the DP
to a FIXED position count; the Spark fold handles any length, and the
fallback is implemented identically on both sides (giant-word probe
corpora exercise it; driver corpora sit far below the bound).

No reference analog (the reference has no text-curation surface);
public technique per Kudo 2018 / SentencePiece.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from . import register

_UNI_MAX_PIECE = 4  # candidate/piece length bound (chars)
_UNI_VOCAB_MULTI = 48  # multi-char vocab budget (all single chars ride free)
_UNI_EM_ROUNDS = 2  # fixed hard-EM rounds (the q16 fixed-_N_MERGES shape)
_UNI_LMAX = 16  # DP unroll bound; longer words fall back to single chars

_MODEL_SCHEMA = "piece string, usage bigint, logp decimal(14,9)"


def _word_freqs(docs: DataFrame) -> DataFrame:
    """(w, freq): the one corpus-sized pass — whitespace split,
    empty-filtered, counted."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _candidate_counts(words: DataFrame) -> DataFrame:
    """(piece, cnt): every substring occurrence of length
    1.._UNI_MAX_PIECE across the corpus, freq-weighted. Substrings are
    built IN-ARRAY per word (nested transform over start × length —
    both bounds are column refs of the outer row, the HOF-safe shape)
    and exploded once."""
    w = F.col("w")
    pieces = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda s: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(_UNI_MAX_PIECE), F.length(w) - s + 1)),
                lambda l: w.substr(s, l),
            ),
        )
    )
    return (
        words.select("freq", F.explode(pieces).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )


def _viterbi_dp(
    wcol: Column, model: dict[str, Decimal], unk_logp: Decimal | None = None
) -> Column:
    """The Viterbi DP as one JVM-side fold: returns the full DP array;
    element len(w)+1 holds the best segmentation's (score, path).

    best[i] = max over j in 1..min(_UNI_MAX_PIECE, i) with
    w[i-j+1 .. i] in the vocab of (best[i-j].score + logp(piece)),
    ties to the larger j (longer piece). Scores are exact decimal sums
    of the 9-rounded log-probs, so the (score, j) struct max is
    deterministic and engine-portable; j=1 is always a candidate
    (every corpus char is vocab), so the DP never strands.

    ``unk_logp`` is the STREAMING twin's <unk> rule: a character the
    fit never saw scores this floor as its own single piece, so the DP
    completes on live-stream OOV text. The batch queries pass None
    (strict — on the fit corpus every char is vocab by construction),
    keeping the oracle-checked semantics unreachable by the fallback."""
    mflat: list[Column] = []
    for k in sorted(model):
        mflat += [F.lit(k), F.lit(model[k]).cast("decimal(14,9)")]
    mdl = F.create_map(*mflat) if mflat else F.create_map().cast("map<string,decimal(14,9)>")
    zero = F.array(
        F.struct(
            F.lit(Decimal(0)).cast("decimal(28,9)").alias("score"),
            F.lit(0).alias("j"),
            F.array().cast("array<string>").alias("path"),
        )
    )

    def step(acc: Column, i: Column) -> Column:
        def cand(j: Column) -> Column:
            piece = wcol.substr(i - j + 1, j)
            lp = F.element_at(mdl, piece)
            if unk_logp is not None:
                lp = F.when(
                    lp.isNull() & (j == 1),
                    F.lit(unk_logp).cast("decimal(14,9)"),
                ).otherwise(lp)
            prev = F.element_at(acc, i - j + 1)
            return F.struct(
                (prev["score"] + lp).cast("decimal(28,9)").alias("score"),
                j.alias("j"),
                F.concat(prev["path"], F.array(piece)).alias("path"),
            )

        cands = F.filter(
            F.transform(F.sequence(F.lit(1), F.least(F.lit(_UNI_MAX_PIECE), i)), cand),
            lambda x: x["score"].isNotNull(),
        )
        return F.concat(acc, F.array(F.array_max(cands)))

    return F.aggregate(F.sequence(F.lit(1), F.length(wcol)), zero, step)


def _segment(words: DataFrame, model: dict[str, Decimal]) -> DataFrame:
    """(w, freq, path) for DP-eligible words (len <= _UNI_LMAX) under
    `model` — the E-step / encode kernel, ONE definition."""
    dp_words = words.filter(F.length("w") <= _UNI_LMAX)
    dp = _viterbi_dp(F.col("w"), model)
    return dp_words.select(
        "w", "freq", F.element_at(dp, F.length("w") + 1)["path"].alias("path")
    )


def _refit_logp(spark: SparkSession, usage_rows: list, denom: float) -> list:
    """[(piece, usage, logp)] with logp = round(ln((usage+1)/denom), 9)
    evaluated IN-ENGINE (one model-sized job) so every transcendental
    in the chain is Spark's, rounded at 9 before the decimal cast —
    the q106 portability rule."""
    df = spark.createDataFrame(usage_rows, "piece string, usage bigint")
    return df.select(
        "piece",
        "usage",
        F.round(F.log((F.col("usage").cast("double") + F.lit(1.0)) / F.lit(denom)), 9)
        .cast("decimal(14,9)")
        .alias("logp"),
    ).collect()


def _fit_front(spark: SparkSession, docs: DataFrame):
    """(words_checkpointed, vocab [(piece, cnt)], model0_rows) — the
    shared candidate-selection + seed-model front of the hard-EM (q121)
    and soft-EM (q135) fits. vocab/model0 empty on a wordless corpus."""
    words = _word_freqs(docs).localCheckpoint(eager=True)
    cand = _candidate_counts(words)
    singles = cand.filter(F.length("piece") == 1)
    # top-K multi-char candidates via orderBy+limit — plans as a
    # distributed TakeOrderedAndProject (map-side partial top-k), NOT
    # an unpartitioned row_number window: the candidate table is
    # model-domain-bounded (distinct <=4-char substrings) but at web
    # scale that can still be millions of rows, and a single-partition
    # sort there is the q67 weak class. Same (cnt DESC, piece)
    # determinism; the oracle expresses the identical selection as a
    # row_number because SQL top-k with ties needs the explicit rank.
    multi = (
        cand.filter(F.length("piece") >= 2)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(_UNI_VOCAB_MULTI)
    )
    vocab = [(r.piece, int(r.cnt)) for r in singles.unionByName(multi).collect()]
    if not vocab:
        return words, [], []
    total = float(sum(c for _, c in vocab))
    seed = spark.createDataFrame(vocab, "piece string, cnt bigint")
    model_rows = seed.select(
        "piece",
        F.col("cnt").alias("usage"),
        F.round(F.log(F.col("cnt").cast("double") / F.lit(total)), 9)
        .cast("decimal(14,9)")
        .alias("logp"),
    ).collect()
    return words, vocab, model_rows


def unigram_fit_with_state(
    spark: SparkSession,
    docs: DataFrame,
    rounds: int = _UNI_EM_ROUNDS,
    with_encode: bool = True,
) -> tuple[list, DataFrame | None]:
    """Fit the unigram model; returns the final model rows
    [(piece, usage, logp)] and the per-word encode table
    (w, n_pieces, fallback) under the FINAL model — or (empty, None)
    on a wordless corpus. ``with_encode=False`` skips building (and
    eagerly checkpointing) the encode table for fit-only consumers
    (q121) — a full Viterbi segmentation pass they never read
    (round-14 optimization; the second element is then None).

    The per-round M-step deliberately stays two jobs (collect the
    usage counts, then one LOCAL-relation job evaluating ln() over the
    ~vocab rows): the round-14 attempt to fuse them into one
    distributed job (vocab left-join + window total) measured SLOWER
    in an interleaved A/B (hard fit min 2.211s old vs 2.558s fused at
    sf0.1 — the local-relation job costs far less than the fused
    plan's extra join+window), so the collect shape is the keeper."""
    words, vocab, model_rows = _fit_front(spark, docs)
    if not vocab:
        return [], None
    n_vocab = len(vocab)

    fallback_usage = (
        words.filter(F.length("w") > _UNI_LMAX)
        .select("freq", F.explode(F.expr("filter(split(w, ''), x -> x <> '')")).alias("piece"))
    )
    model = {r.piece: r.logp for r in model_rows}
    for _ in range(rounds):
        # Eager checkpoint per round (the q16 syms-checkpoint shape) —
        # load-bearing, not hygiene: explode(path) on top of the live
        # DP column lets CollapseProject inline the WHOLE Viterbi fold
        # into the Generate, whose per-output-element re-evaluation is
        # the q09 HOF class (the unicode probe corpus ran 280s for 40
        # words; checkpointed, milliseconds). The frame is
        # vocabulary-bounded (distinct words), never corpus-scale.
        seg = _segment(words, model).localCheckpoint(eager=True)
        usage = (
            seg.select("freq", F.explode("path").alias("piece"))
            .unionByName(fallback_usage)
            .groupBy("piece")
            .agg(F.sum("freq").alias("usage"))
        )
        counts = {r.piece: int(r.usage) for r in usage.collect()}
        tot = float(sum(counts.values()))
        model_rows = _refit_logp(
            spark,
            [(p, counts.get(p, 0)) for p, _ in vocab],
            tot + n_vocab,
        )
        model = {r.piece: r.logp for r in model_rows}

    if not with_encode:
        return model_rows, None
    enc = _segment(words, model).localCheckpoint(eager=True).select(
        "w", F.size("path").alias("n_pieces"), F.lit(False).alias("fallback")
    ).unionByName(
        words.filter(F.length("w") > _UNI_LMAX).select(
            "w", F.length("w").alias("n_pieces"), F.lit(True).alias("fallback")
        )
    )
    return model_rows, enc


# --------------------------------------------------------------------------
# DuckDB oracle: the fixed EM rounds + the encode pass unrolled as CTEs
# (the q16 precedent) — DP positions unrolled to _UNI_LMAX per round,
# the per-position 4-way max expressed as list_sort(list_transform(
# list_filter(...)))[-1] over (score, j, path) structs, the model
# carried as a MAP built from the previous round's CTE.


def _uni_dp_ctes(tag: str, model_cte: str, lmax: int = _UNI_LMAX) -> list[str]:
    parts = [
        f"mdl_{tag} AS (SELECT map(list(piece), list(logp)) AS mdl FROM {model_cte})",
        f"dp_{tag}_0 AS (SELECT w, freq, length(w) AS len, mdl,"
        "  [{'score': CAST(0 AS DECIMAL(28,9)), 'j': 0,"
        "    'path': CAST([] AS VARCHAR[])}] AS dp"
        f"  FROM words, mdl_{tag} WHERE length(w) <= {lmax})",
    ]
    j_candidates = "[" + ",".join(str(j) for j in range(1, _UNI_MAX_PIECE + 1)) + "]"
    for i in range(1, lmax + 1):
        parts.append(
            f"dp_{tag}_{i} AS (SELECT w, freq, len, mdl,"
            f" CASE WHEN len < {i} THEN dp ELSE list_append(dp,"
            "  list_sort(list_transform("
            f"   list_filter({j_candidates}, j -> j <= {i}"
            f"     AND len(map_extract(mdl, substr(w, {i}-j+1, j))) > 0),"
            f"   j -> {{'score': CAST(dp[{i}-j+1].score"
            f"            + map_extract(mdl, substr(w, {i}-j+1, j))[1] AS DECIMAL(28,9)),"
            "          'j': j,"
            f"          'path': list_append(dp[{i}-j+1].path, substr(w, {i}-j+1, j))}}"
            f"  ))[-1]) END AS dp FROM dp_{tag}_{i-1})"
        )
    parts.append(
        f"seg_{tag} AS (SELECT w, freq, dp[len + 1].path AS path FROM dp_{tag}_{lmax})"
    )
    return parts


def _uni_base_ctes() -> list[str]:
    """The shared fit front as oracle CTEs: word counts, candidate
    substrings, vocab selection, seed model, long-word fallback usage —
    used verbatim by both the hard-EM (q121/q122) and soft-EM (q135)
    oracles so the two tiers can never disagree on their inputs."""
    return [
        "words AS ("
        "  SELECT w, count(*) AS freq FROM ("
        "    SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
        "  WHERE w <> '' GROUP BY w)",
        "starts AS (SELECT w, freq, unnest(generate_series(1, length(w))) AS s FROM words)",
        "cand AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM ("
        "  SELECT substr(w, s, l) AS piece, freq FROM ("
        f"    SELECT w, freq, s, unnest(generate_series(1, least({_UNI_MAX_PIECE},"
        "           length(w) - s + 1))) AS l FROM starts)) GROUP BY piece)",
        "vocab AS ("
        "  SELECT piece, cnt FROM cand WHERE length(piece) = 1"
        "  UNION ALL"
        "  SELECT piece, cnt FROM ("
        "    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn"
        f"    FROM cand WHERE length(piece) >= 2) WHERE rn <= {_UNI_VOCAB_MULTI})",
        "vstats AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,"
        "  CAST(count(*) AS BIGINT) AS v FROM vocab)",
        "model_0 AS (SELECT piece, cnt AS usage,"
        "  CAST(round(ln(cnt / total), 9) AS DECIMAL(14,9)) AS logp"
        "  FROM vocab, vstats)",
        "fallback_usage AS (SELECT freq, unnest(list_filter(string_split(w, ''),"
        f"  x -> x <> '')) AS piece FROM words WHERE length(w) > {_UNI_LMAX})",
    ]


def _uni_oracle_ctes(rounds: int = _UNI_EM_ROUNDS) -> str:
    parts = _uni_base_ctes()
    for r in range(1, rounds + 1):
        parts += _uni_dp_ctes(f"r{r}", f"model_{r-1}")
        parts += [
            f"upieces_r{r} AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM ("
            f"  SELECT freq, unnest(path) AS piece FROM seg_r{r}"
            "   UNION ALL SELECT freq, piece FROM fallback_usage) GROUP BY piece)",
            f"ustats_r{r} AS (SELECT CAST(sum(coalesce(u.cnt, 0)) AS DOUBLE) AS tot"
            f"  FROM vocab v LEFT JOIN upieces_r{r} u ON u.piece = v.piece)",
            f"model_{r} AS (SELECT v.piece, coalesce(u.cnt, 0) AS usage,"
            "  CAST(round(ln((coalesce(u.cnt, 0) + 1.0) / (tot + vs.v)), 9)"
            "       AS DECIMAL(14,9)) AS logp"
            f"  FROM vocab v LEFT JOIN upieces_r{r} u ON u.piece = v.piece,"
            f"       ustats_r{r}, vstats vs)",
        ]
    return ",\n".join(parts)


_UNI_FIT_ORACLE = (
    "WITH\n"
    + _uni_oracle_ctes()
    + f"""
SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, usage,
       CAST(logp AS DOUBLE) AS logp
FROM model_{_UNI_EM_ROUNDS}"""
)

_UNI_ENCODE_ORACLE = (
    "WITH\n"
    + _uni_oracle_ctes()
    + ",\n"
    + ",\n".join(_uni_dp_ctes("enc", f"model_{_UNI_EM_ROUNDS}"))
    + f""",
enc AS (
  SELECT w, len(path) AS n_pieces, FALSE AS fallback FROM seg_enc
  UNION ALL
  SELECT w, length(w) AS n_pieces, TRUE AS fallback FROM words
  WHERE length(w) > {_UNI_LMAX}),
occ AS (SELECT doc_id, w FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '')
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_pieces) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN fallback THEN 1 ELSE 0 END) AS BIGINT) AS n_fallback_words
FROM occ JOIN enc USING (w) GROUP BY doc_id"""
)


@register(
    "q121_unigram_fit",
    tags=("datapipe", "text", "tokenizer", "iterative"),
    oracle=_UNI_FIT_ORACLE,
)
def q121_unigram_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted unigram-LM piece table after the fixed hard-EM
    rounds: (piece, piece_len, final usage, add-one log-prob). Oracle:
    the same candidate selection + unrolled Viterbi-EM as DuckDB CTEs;
    independent-Python ground truth additionally in
    tests/test_unigram.py."""
    model_rows, _ = unigram_fit_with_state(
        spark, load(spark, sf_dir, "documents"), with_encode=False
    )
    out = spark.createDataFrame(
        [(r.piece, int(r.usage), r.logp) for r in model_rows] or [],
        _MODEL_SCHEMA,
    )
    return out.select(
        "piece",
        F.length("piece").cast("bigint").alias("piece_len"),
        "usage",
        F.col("logp").cast("double").alias("logp"),
    )


@register(
    "q122_unigram_encode",
    tags=("datapipe", "text", "tokenizer"),
    oracle=_UNI_ENCODE_ORACLE,
)
def q122_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the corpus-fitted unigram model:
    Viterbi piece count per word occurrence (single-char fallback for
    words beyond _UNI_LMAX — n_fallback_words reports how often it
    fired). Word -> n_pieces comes from ONE vocabulary-bounded encode
    table joined back onto the token stream (the q18 join shape: the
    corpus side only ever shuffles words)."""
    docs = load(spark, sf_dir, "documents")
    _, enc = unigram_fit_with_state(spark, docs)
    occ = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    if enc is None:
        return occ.join(
            occ.select("w").limit(0).withColumn("n_pieces", F.lit(0).cast("bigint")),
            "w",
        ).select(
            "doc_id",
            F.lit(0).cast("bigint").alias("n_words"),
            F.lit(0).cast("bigint").alias("n_tokens"),
            F.lit(0).cast("bigint").alias("n_fallback_words"),
        )
    return (
        occ.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_tokens"),
            F.sum(F.col("fallback").cast("int")).cast("bigint").alias("n_fallback_words"),
        )
    )


# ---------------------------------------------------------------------------
# q135 — soft-EM unigram fit (round-13 verdict "next round" #4: SentencePiece
# fidelity). Kudo 2018 fits the unigram LM with EXPECTED piece counts over
# the full segmentation lattice (forward-backward), then prunes the vocab
# iteratively; q121's hard-EM (Viterbi counts) stays as the fast tier. This
# tier runs: soft E-step under the seed model -> M-step -> one vocab-pruning
# round (all single chars survive; multi-char pieces ranked by expected
# usage) -> soft E-step under the pruned model -> final M-step.
#
# Cross-engine exactness follows the q121/q106 discipline: every
# transcendental (exp, ln) is rounded at 9 and cast to DECIMAL before any
# sum; path scores and expected counts are exact decimal sums, so the
# log-sum-exp fold and the posterior weights are bit-identical between
# Spark's JVM fold and DuckDB's unrolled list-DP CTEs. The freq x gamma
# product is DECIMAL(19,0) x DECIMAL(10,9) — within both engines' exact
# 38-digit budget (a wider gamma type would trip Spark's precision-loss
# scale reduction to 6 digits and silently diverge from DuckDB).

_UNI_SOFT_KEEP = 24  # multi-char vocab kept after the pruning round


def _lse_dec(cands: Column) -> Column:
    """Log-sum-exp over a non-empty DECIMAL(28,9) score array, in the
    portable discretized form: m + round9(ln(sum(round9(exp(s - m))))).
    The max/subtract/sum legs are exact decimal ops; the two
    transcendentals are rounded at 9 before re-entering decimal, so
    both engines land on the identical value. (array_max inside the
    fold lambda re-evaluates per element, but over <= _UNI_MAX_PIECE
    candidates — constant work, not the q09 class.)"""
    m = F.array_max(cands)
    s = F.aggregate(
        cands,
        F.lit(Decimal(0)).cast("decimal(28,9)"),
        lambda a, x: (
            a + F.round(F.exp((x - m).cast("double")), 9).cast("decimal(28,9)")
        ).cast("decimal(28,9)"),
    )
    return (m + F.round(F.log(s.cast("double")), 9).cast("decimal(28,9)")).cast(
        "decimal(28,9)"
    )


def _soft_fwd(wcol: Column, mdl: Column) -> Column:
    """Forward scores as one JVM fold: element i+1 is the log-sum-exp
    marginal of all segmentations of the length-i prefix. Same shape as
    _viterbi_dp with sum-semiring instead of max (the verdict-#4 ask)."""

    def step(acc: Column, i: Column) -> Column:
        def cand(j: Column) -> Column:
            piece = wcol.substr(i - j + 1, j)
            lp = F.element_at(mdl, piece)
            prev = F.element_at(acc, i - j + 1)
            return F.when(lp.isNotNull(), (prev + lp).cast("decimal(28,9)"))

        cands = F.filter(
            F.transform(F.sequence(F.lit(1), F.least(F.lit(_UNI_MAX_PIECE), i)), cand),
            lambda x: x.isNotNull(),
        )
        return F.concat(acc, F.array(_lse_dec(cands)))

    zero = F.array(F.lit(Decimal(0)).cast("decimal(28,9)"))
    return F.aggregate(F.sequence(F.lit(1), F.length(wcol)), zero, step)


def _soft_bwd(wcol: Column, mdl: Column) -> Column:
    """Backward scores, built right-to-left: element k+1 is the
    marginal of all segmentations of the length-k SUFFIX — so
    bwd[len - i + 1] is the suffix marginal after position i."""
    n = F.length(wcol)

    def step(acc: Column, k: Column) -> Column:
        def cand(j: Column) -> Column:
            piece = wcol.substr(n - k + 1, j)
            lp = F.element_at(mdl, piece)
            nxt = F.element_at(acc, k - j + 1)
            return F.when(lp.isNotNull(), (nxt + lp).cast("decimal(28,9)"))

        cands = F.filter(
            F.transform(F.sequence(F.lit(1), F.least(F.lit(_UNI_MAX_PIECE), k)), cand),
            lambda x: x.isNotNull(),
        )
        return F.concat(acc, F.array(_lse_dec(cands)))

    zero = F.array(F.lit(Decimal(0)).cast("decimal(28,9)"))
    return F.aggregate(F.sequence(F.lit(1), n), zero, step)


def _model_map(model: dict[str, Decimal]) -> Column:
    mflat: list[Column] = []
    for k in sorted(model):
        mflat += [F.lit(k), F.lit(model[k]).cast("decimal(14,9)")]
    return (
        F.create_map(*mflat)
        if mflat
        else F.create_map().cast("map<string,decimal(14,9)>")
    )


def _soft_dp_frame(words: DataFrame, model: dict) -> DataFrame:
    """(w, freq, fwd, bwd): the forward+backward log-sum-exp folds per
    DP-eligible word, eagerly checkpointed BEFORE the occurrence
    explode so the folds materialize once (the q09/CollapseProject
    barrier). Factored out so a fit round and the q137 encode can run
    their two gamma aggregations off ONE fold pass (round-14: the
    encode re-ran this — the soft tier's heaviest job — under the
    identical model the fit's final E-step had just folded)."""
    mdl = _model_map(model)
    w = F.col("w")
    return (
        words.filter(F.length("w") <= _UNI_LMAX)
        .select("w", "freq", _soft_fwd(w, mdl).alias("fwd"), _soft_bwd(w, mdl).alias("bwd"))
        .localCheckpoint(eager=True)
    )


def _soft_occ_gammas(
    words: DataFrame, model: dict, dp: DataFrame | None = None
) -> DataFrame:
    """(w, freq, piece, gamma): posterior occupation per in-vocab
    occurrence of every DP-eligible word —
    gamma = round9(exp(fwd[i-j] + logp + bwd_after_i - fwd[n])).
    One gamma definition for BOTH consumers: the piece-level expected
    usage (E-step, freq-weighted) and the word-level expected piece
    count (q137 soft encode). Pass `dp` to reuse an already-folded
    _soft_dp_frame for the same model."""
    mdl = _model_map(model)
    dpw = _soft_dp_frame(words, model) if dp is None else dp
    occ = dpw.select(
        "w", "freq", "fwd", "bwd",
        F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i"),
    ).select(
        "w", "freq", "fwd", "bwd", "i",
        F.explode(
            F.sequence(F.lit(1), F.least(F.lit(_UNI_MAX_PIECE), F.col("i")))
        ).alias("j"),
    )
    piece = F.expr("substring(w, i - j + 1, j)")
    lp = F.element_at(mdl, piece)
    u = (
        F.element_at(F.col("fwd"), F.col("i") - F.col("j") + 1)
        + lp
        + F.element_at(F.col("bwd"), F.length("w") - F.col("i") + 1)
        - F.element_at(F.col("fwd"), F.length("w") + 1)
    )
    gamma = F.round(F.exp(u.cast("double")), 9).cast("decimal(10,9)")
    return occ.filter(lp.isNotNull()).select(
        "w", "freq", piece.alias("piece"), gamma.alias("gamma")
    )


def _soft_expected(
    spark: SparkSession, words: DataFrame, model: dict, dp: DataFrame | None = None
) -> list:
    """E-step: [(piece, eu DECIMAL(38,9))] expected freq-weighted usage
    under `model` — per-occurrence gammas aggregated by piece, plus
    integer single-char usage for beyond-_UNI_LMAX fallback words.
    Output is vocabulary-bounded."""
    weighted = _soft_occ_gammas(words, model, dp=dp).select(
        "piece",
        (F.col("freq").cast("decimal(19,0)") * F.col("gamma"))
        .cast("decimal(38,9)")
        .alias("wgt"),
    )
    fallback = words.filter(F.length("w") > _UNI_LMAX).select(
        F.explode(F.expr("filter(split(w, ''), x -> x <> '')")).alias("piece"),
        F.col("freq").cast("decimal(19,0)").cast("decimal(38,9)").alias("wgt"),
    )
    return (
        weighted.unionByName(fallback)
        .groupBy("piece")
        .agg(F.sum("wgt").cast("decimal(38,9)").alias("eu"))
        .collect()
    )


def _soft_mstep(spark: SparkSession, eu: dict) -> dict:
    """M-step: {piece: (eu, logp)} with logp = round9(ln((eu + 1) /
    (tot + V))) evaluated IN-ENGINE over the vocab-sized usage table
    (the _refit_logp portability rule, fractional-count variant)."""
    tot = float(sum(eu.values()))
    denom = tot + len(eu)
    rows = spark.createDataFrame(
        sorted(eu.items()), "piece string, eu decimal(38,9)"
    ).select(
        "piece",
        "eu",
        F.round(
            F.log((F.col("eu").cast("double") + F.lit(1.0)) / F.lit(denom)), 9
        )
        .cast("decimal(14,9)")
        .alias("logp"),
    ).collect()
    return {r.piece: (r.eu, r.logp) for r in rows}


def unigram_soft_fit_with_state(spark: SparkSession, docs: DataFrame):
    """Soft-EM fit with reusable state: (model rows [(piece,
    expected_usage Decimal, logp Decimal)], the checkpointed word
    table, the FINAL model {piece: logp}, the final E-step's
    checkpointed DP frame) — ([], None, {}, None) on a wordless
    corpus. The state lets the soft encode (q137) run its per-word
    pass without refitting AND without re-running the final model's
    forward/backward folds (the DP frame is the E-step's own)."""
    words, vocab, model_rows = _fit_front(spark, docs)
    if not vocab:
        return [], None, {}, None
    pieces = [p for p, _ in vocab]
    model0 = {r.piece: r.logp for r in model_rows}

    def estep_eu(model: dict, vocab_pieces: list, dp=None) -> dict:
        got = {r.piece: r.eu for r in _soft_expected(spark, words, model, dp=dp)}
        return {p: got.get(p, Decimal(0)) for p in vocab_pieces}

    eu1 = estep_eu(model0, pieces)
    m1 = _soft_mstep(spark, eu1)
    # pruning round: every single char survives (SentencePiece's
    # required-character rule); multi-char pieces ranked by
    # (expected usage DESC, piece ASC), top _UNI_SOFT_KEEP kept
    multi_ranked = sorted(
        (p for p in pieces if len(p) >= 2), key=lambda p: (-eu1[p], p)
    )[:_UNI_SOFT_KEEP]
    pieces2 = sorted([p for p in pieces if len(p) == 1] + multi_ranked)
    model1 = {p: m1[p][1] for p in pieces2}
    dp2 = _soft_dp_frame(words, model1)
    eu2 = estep_eu(model1, pieces2, dp=dp2)
    m2 = _soft_mstep(spark, eu2)
    return (
        [(p, m2[p][0], m2[p][1]) for p in sorted(m2)],
        words,
        model1,
        dp2,
    )


def unigram_soft_fit(spark: SparkSession, docs: DataFrame) -> list:
    """Soft-EM fit: [(piece, expected_usage Decimal, logp Decimal)]
    after E/M under the seed model, the pruning round, and a final E/M
    under the pruned model — [] on a wordless corpus."""
    rows, _, _, _ = unigram_soft_fit_with_state(spark, docs)
    return rows


def _uni_soft_dp_ctes(tag: str, model_cte: str) -> list[str]:
    """Forward+backward log-sum-exp DP unrolled to _UNI_LMAX positions
    as DuckDB CTEs (the _uni_dp_ctes shape with sum-semiring): one
    cands CTE + one append CTE per position and direction, chained on
    the same rows so no join is needed; ends with eb_{tag} carrying
    (w, freq, len, mdl, fwd, bwd)."""
    j_cands = "[" + ",".join(str(j) for j in range(1, _UNI_MAX_PIECE + 1)) + "]"

    def lse(cands: str) -> str:
        return (
            f"CAST(list_max({cands}) + CAST(round(ln(CAST(list_sum(list_transform({cands},"
            f" s -> CAST(round(exp(CAST(s - list_max({cands}) AS DOUBLE)), 9)"
            "        AS DECIMAL(28,9)))) AS DOUBLE)), 9) AS DECIMAL(28,9))"
            " AS DECIMAL(28,9))"
        )

    parts = [
        f"sf_{tag}_0 AS (SELECT w, freq, length(w) AS len, mdl,"
        "  [CAST(0 AS DECIMAL(28,9))] AS fwd"
        f"  FROM words, mdl_{tag} WHERE length(w) <= {_UNI_LMAX})",
    ]
    for i in range(1, _UNI_LMAX + 1):
        parts.append(
            f"sfc_{tag}_{i} AS (SELECT w, freq, len, mdl, fwd,"
            f" list_filter(list_transform({j_cands}, j -> CASE WHEN j <= least({i}, len)"
            f"   AND len(map_extract(mdl, substr(w, {i}-j+1, j))) > 0"
            f"  THEN CAST(fwd[{i}-j+1] + map_extract(mdl, substr(w, {i}-j+1, j))[1]"
            "        AS DECIMAL(28,9)) END), x -> x IS NOT NULL) AS cands"
            f" FROM sf_{tag}_{i-1})"
        )
        parts.append(
            f"sf_{tag}_{i} AS (SELECT w, freq, len, mdl,"
            f" CASE WHEN len < {i} THEN fwd"
            f" ELSE list_append(fwd, {lse('cands')}) END AS fwd FROM sfc_{tag}_{i})"
        )
    parts.append(
        f"sb_{tag}_0 AS (SELECT w, freq, len, mdl, fwd,"
        f" [CAST(0 AS DECIMAL(28,9))] AS bwd FROM sf_{tag}_{_UNI_LMAX})"
    )
    for k in range(1, _UNI_LMAX + 1):
        parts.append(
            f"sbc_{tag}_{k} AS (SELECT w, freq, len, mdl, fwd, bwd,"
            f" list_filter(list_transform({j_cands}, j -> CASE WHEN j <= least({k}, len)"
            f"   AND len - {k} + 1 >= 1"
            f"   AND len(map_extract(mdl, substr(w, len-{k}+1, j))) > 0"
            f"  THEN CAST(bwd[{k}-j+1] + map_extract(mdl, substr(w, len-{k}+1, j))[1]"
            "        AS DECIMAL(28,9)) END), x -> x IS NOT NULL) AS cands"
            f" FROM sb_{tag}_{k-1})"
        )
        parts.append(
            f"sb_{tag}_{k} AS (SELECT w, freq, len, mdl, fwd,"
            f" CASE WHEN len < {k} THEN bwd"
            f" ELSE list_append(bwd, {lse('cands')}) END AS bwd FROM sbc_{tag}_{k})"
        )
    parts.append(
        f"eb_{tag} AS (SELECT w, freq, len, mdl, fwd, bwd FROM sb_{tag}_{_UNI_LMAX})"
    )
    return parts


def _uni_soft_round_ctes(tag: str, model_cte: str, vocab_cte: str) -> list[str]:
    """One soft-EM round as CTEs: the DP chains, the posterior-gamma
    occurrence expansion, expected usage (seu_{tag}) and the refit
    model (smodel_{tag} with columns piece, eu, logp)."""
    parts = [f"mdl_{tag} AS (SELECT map(list(piece), list(logp)) AS mdl FROM {model_cte})"]
    parts += _uni_soft_dp_ctes(tag, model_cte)
    parts += [
        f"soccs_{tag} AS (SELECT w, freq, len, mdl, fwd, bwd, i,"
        f"  unnest(generate_series(1, least({_UNI_MAX_PIECE}, i))) AS j"
        "  FROM (SELECT w, freq, len, mdl, fwd, bwd,"
        f"        unnest(generate_series(1, len)) AS i FROM eb_{tag}))",
        # w/freq/gamma kept as separate columns (round 14): seu_{tag}
        # folds freq in for the piece-level expected USAGE; the soft
        # ENCODE (q137) reuses the same per-occurrence gammas grouped
        # by w instead — one gamma definition for both consumers
        f"sg_{tag} AS (SELECT w, freq, substr(w, i - j + 1, j) AS piece,"
        "  CAST(round(exp(CAST(fwd[i-j+1]"
        "                      + map_extract(mdl, substr(w, i - j + 1, j))[1]"
        "                      + bwd[len - i + 1] - fwd[len + 1] AS DOUBLE)), 9)"
        "       AS DECIMAL(10,9)) AS gamma"
        f" FROM soccs_{tag}"
        " WHERE len(map_extract(mdl, substr(w, i - j + 1, j))) > 0)",
        f"seu_{tag} AS (SELECT piece, CAST(sum(wgt) AS DECIMAL(38,9)) AS eu FROM ("
        f"  SELECT piece, CAST(CAST(freq AS DECIMAL(19,0)) * gamma"
        f"       AS DECIMAL(38,9)) AS wgt FROM sg_{tag}"
        "   UNION ALL SELECT piece,"
        "     CAST(CAST(freq AS DECIMAL(19,0)) AS DECIMAL(38,9)) AS wgt"
        "   FROM fallback_usage) GROUP BY piece)",
        f"sstat_{tag} AS (SELECT CAST(sum(coalesce(u.eu, 0)) AS DOUBLE) AS tot,"
        "  CAST(count(*) AS BIGINT) AS nv"
        f"  FROM {vocab_cte} v LEFT JOIN seu_{tag} u ON u.piece = v.piece)",
        f"smodel_{tag} AS (SELECT v.piece,"
        "  CAST(coalesce(u.eu, 0) AS DECIMAL(38,9)) AS eu,"
        "  CAST(round(ln((CAST(coalesce(u.eu, 0) AS DOUBLE) + 1.0) / (tot + nv)), 9)"
        "       AS DECIMAL(14,9)) AS logp"
        f"  FROM {vocab_cte} v LEFT JOIN seu_{tag} u ON u.piece = v.piece,"
        f"       sstat_{tag})",
    ]
    return parts


def _uni_soft_oracle() -> str:
    parts = _uni_base_ctes()
    parts += _uni_soft_round_ctes("r1", "model_0", "vocab")
    parts += [
        # pruning: singles ride free; multi-char pieces ranked by
        # round-1 expected usage (DESC, piece ASC), top _UNI_SOFT_KEEP
        "svocab2 AS ("
        "  SELECT piece FROM vocab WHERE length(piece) = 1"
        "  UNION ALL"
        "  SELECT piece FROM ("
        "    SELECT v.piece, row_number() OVER ("
        "             ORDER BY coalesce(u.eu, 0) DESC, v.piece) AS rn"
        "    FROM vocab v LEFT JOIN seu_r1 u ON u.piece = v.piece"
        f"    WHERE length(v.piece) >= 2) WHERE rn <= {_UNI_SOFT_KEEP})",
        "smodel2in AS (SELECT m.piece, m.logp FROM smodel_r1 m"
        "  SEMI JOIN svocab2 USING (piece))",
    ]
    parts += _uni_soft_round_ctes("r2", "smodel2in", "svocab2")
    return (
        "WITH\n"
        + ",\n".join(parts)
        + """
SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len,
       CAST(eu AS DOUBLE) AS expected_usage,
       CAST(logp AS DOUBLE) AS logp
FROM smodel_r2"""
    )


@register(
    "q135_unigram_soft_fit",
    tags=("datapipe", "text", "tokenizer", "iterative"),
    oracle=_uni_soft_oracle(),
)
def q135_unigram_soft_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The soft-EM (SentencePiece-fidelity) unigram model: per-piece
    EXPECTED usage over the full segmentation lattice and the refit
    add-one log-prob, after one pre-prune E/M round, the vocab-pruning
    round, and one post-prune E/M round. q121 (hard-EM / Viterbi
    counts) remains the fast tier; this is the published algorithm's
    expected-count E-step (Kudo 2018 §3.2) with the same driver-looped,
    vocabulary-bounded job structure — the corpus is touched exactly
    once (the shared word-frequency aggregation); every fold, explode,
    and refit afterwards runs on the distinct-word table. Oracle:
    forward+backward log-sum-exp DPs unrolled to _UNI_LMAX positions as
    DuckDB list-CTEs; independent pure-Python ground truth in
    tests/test_unigram_soft.py."""
    rows = unigram_soft_fit(spark, load(spark, sf_dir, "documents"))
    out = spark.createDataFrame(
        rows or [], "piece string, eu decimal(38,9), logp decimal(14,9)"
    )
    return out.select(
        "piece",
        F.length("piece").cast("bigint").alias("piece_len"),
        F.col("eu").cast("double").alias("expected_usage"),
        F.col("logp").cast("double").alias("logp"),
    )


def _soft_word_npieces(
    words: DataFrame, model: dict, dp: DataFrame | None = None
) -> DataFrame:
    """(w, e_pieces DECIMAL(38,9), fallback): the lattice-expected
    piece count per distinct word under `model` — the sum of the
    word's posterior occurrence gammas (every segmentation covers each
    used occurrence once, so E[#pieces] = sum of occupation
    probabilities). Beyond-_UNI_LMAX words take their exact single-char
    count, flagged. Vocabulary-of-words-bounded, the q122 encode-table
    shape."""
    per_word = (
        _soft_occ_gammas(words, model, dp=dp)
        .groupBy("w")
        .agg(F.sum("gamma").cast("decimal(38,9)").alias("e_pieces"))
        .withColumn("fallback", F.lit(False))
    )
    fb = words.filter(F.length("w") > _UNI_LMAX).select(
        "w",
        F.length("w").cast("decimal(38,9)").alias("e_pieces"),
        F.lit(True).alias("fallback"),
    )
    return per_word.unionByName(fb)


_UNI_SOFT_ENCODE_ORACLE = (
    # the full soft-fit chain (its sg_r2 gammas ARE the encode's
    # posteriors — the final E-step's model, so fit and encode can
    # never disagree), then per-word sums joined onto the token stream
    _uni_soft_oracle().rsplit("\nSELECT", 1)[0]
    + f""",
wenc AS (
  SELECT w, CAST(sum(gamma) AS DECIMAL(38,9)) AS e_pieces,
         FALSE AS fallback
  FROM sg_r2 GROUP BY w
  UNION ALL
  SELECT w, CAST(length(w) AS DECIMAL(38,9)) AS e_pieces, TRUE AS fallback
  FROM words WHERE length(w) > {_UNI_LMAX}),
occ2 AS (SELECT doc_id, w FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '')
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(CAST(sum(e_pieces) AS DECIMAL(38,9)) AS DOUBLE) AS exp_tokens,
       CAST(sum(CASE WHEN fallback THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fallback_words
FROM occ2 JOIN wenc USING (w) GROUP BY doc_id"""
)


@register(
    "q137_unigram_soft_encode",
    tags=("datapipe", "text", "tokenizer"),
    oracle=_UNI_SOFT_ENCODE_ORACLE,
)
def q137_unigram_soft_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document EXPECTED token counts under the soft-fitted unigram
    model (the q122/q135 pair completed): for each word the lattice
    marginal E[#pieces] — the sum of its posterior occurrence gammas
    under the model the fit's FINAL E-step ran (the pruned vocab's
    logps; the oracle reuses that E-step's own gamma CTEs, so fit and
    encode share one posterior definition). This is the number a
    subword-budget planner wants from a sampling tokenizer (Kudo 2018's
    subword regularization draws segmentations from exactly this
    lattice): q122's Viterbi count is the mode, this is the mean.

    Exactness: per-word E is an exact decimal sum of 9-rounded gammas;
    per-doc exp_tokens an exact decimal sum of those, cast to DOUBLE
    once at the end. Scale shape: the fit is vocabulary-bounded
    (q135); the encode table is word-vocabulary-bounded and joins the
    token stream exactly like q122 — the corpus side only ever
    shuffles words."""
    docs = load(spark, sf_dir, "documents")
    _, words, model, dp2 = unigram_soft_fit_with_state(spark, docs)
    occ = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    if words is None:
        return occ.limit(0).select(
            "doc_id",
            F.lit(0).cast("bigint").alias("n_words"),
            F.lit(0.0).alias("exp_tokens"),
            F.lit(0).cast("bigint").alias("n_fallback_words"),
        )
    enc = _soft_word_npieces(words, model, dp=dp2).localCheckpoint(eager=True)
    return (
        occ.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("e_pieces").cast("decimal(38,9)").cast("double").alias("exp_tokens"),
            F.sum(F.col("fallback").cast("int")).cast("bigint").alias("n_fallback_words"),
        )
    )
