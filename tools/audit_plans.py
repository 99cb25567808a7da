#!/usr/bin/env python
"""Physical-plan audit: assert the scale-critical plan properties of the
headline queries instead of eyeballing `.explain` output.

Checks per query (tagged expectations below):
- column pruning: the big-table scan must not read more columns than
  the query needs (ReadSchema width cap);
- filter pushdown: selective predicates appear as scan DataFilters;
- join strategy: dimension joins must be broadcast (no SortMergeJoin
  against a broadcastable side);
- whole-stage codegen: the plan contains codegen spans (expressions
  stayed JVM-side).

Run: python tools/audit_plans.py [sf_dir]
Exit code != 0 on any violated expectation — wired into tests so a
plan regression (a dropped broadcast, a widened scan) fails CI, not a
100 TB run.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# name -> dict of expectations; max_scan_cols applies to the widest
# parquet FileScan in the plan.
EXPECTATIONS = {
    "q01_pricing_summary": {"codegen": True, "max_scan_cols": 7, "no_smj": True},
    "q03_shipping_priority": {"codegen": True, "max_scan_cols": 4, "broadcasts": 2, "no_smj": True},
    "q05_nation_revenue": {"codegen": True, "max_scan_cols": 4, "broadcasts": 4, "no_smj": True},
    "q21_fifo_pairing": {"codegen": True, "max_scan_cols": 6},
    "q23_sessionization": {"codegen": True, "max_scan_cols": 6},
    # quantile-threshold histogram: the corpus must reduce to the
    # (event_type, vc) count aggregate BEFORE any window — a map-side
    # partial_count on the fine composite key, capped at 2 hash
    # exchanges (corpus->distribution, distribution->per-type). A
    # row_number anywhere means the round-9 `weak` formulation (every
    # window partitioned by the ~5-value event_type key over RAW rows,
    # ~20% of the corpus through one sort task at 100x) crept back.
    "q26_latency_histogram": {"codegen": True, "max_scan_cols": 2,
                              "contains": ["partial_count"],
                              "contains_not": ["row_number"],
                              "max_n": {"Exchange hashpartitioning": 2}},
    # the ONLY explicit broadcast hint is the tiny probe side, which
    # broadcasts into a nested-loop cross join (array-native scoring has
    # no equi-key); a 2nd hint means a corpus-derived table got
    # broadcast again, and a shuffle-based CartesianProduct or SMJ
    # would mean the corpus side stopped streaming
    "q04_cosine_topk": {"codegen": True, "no_smj": True, "max_hint_broadcasts": 1,
                        "contains": ["BroadcastNestedLoopJoin"],
                        "contains_not": ["CartesianProduct"]},
    # one shuffle computes every rollup/cube level (Expand, not a union
    # of per-level jobs), dims broadcast
    "q91_rollup_native": {"codegen": True, "max_scan_cols": 3, "broadcasts": 2, "no_smj": True, "contains": ["Expand"]},
    "q78_cube_native": {"codegen": True, "max_scan_cols": 4, "no_smj": True, "contains": ["Expand"]},
    # rank-limit pushdown: only k rows per group survive the map side
    "q94_topk_per_group": {"codegen": True, "broadcasts": 1, "no_smj": True, "contains": ["WindowGroupLimit"]},
    # the codegen'd explode+partial-agg staging (the HOF formulation had
    # no codegen span at all — see _minhash_sigs docstring)
    # contains_n RoundRobin x2: the up-front input spread AND the
    # explicit-width spread of the capped member rows before pair
    # expansion (AQE would coalesce the byte-light, compute-dense
    # scoring stage to one task without it — round-6 hardening)
    "q55_minhash_lsh": {"codegen": True, "max_scan_cols": 2,
                        "contains_n": {"RoundRobinPartitioning": 2}},
    # degenerate-bucket guard must stay a MAP-SIDE limit: the Partial
    # WindowGroupLimit truncates oversized buckets before the shuffle.
    # Allowed hints: probe buckets + capped candidate pairs (both
    # probe-bounded). A 3rd hint means a corpus-derived table (e.g. a
    # per-vector norms build) got broadcast again — norms are folded
    # into the dot-product agg (the q39 pattern).
    "q86_ann_lsh": {"codegen": True, "contains": ["WindowGroupLimit"], "max_hint_broadcasts": 2},
    # blocked/tiered similarity: both must keep their degenerate-block
    # caps as map-side rank limits (q57 caps its (lang, size) blocks;
    # q86 inherits q55's bucket cap via lsh_band_pairs)
    "q85_ngram_jaccard": {"codegen": True, "max_scan_cols": 4, "contains": ["WindowGroupLimit"],
                          "contains_n": {"RoundRobinPartitioning": 2}},
    "q101_edit_distance": {"codegen": True, "contains": ["WindowGroupLimit"]},
    # embedding near-dup scores pairs INSIDE capped buckets (zip_with
    # folds over member arrays) — the plan must stay join-free with the
    # cap as a map-side rank limit; no codegen expectation (higher-order
    # lambdas don't enter codegen by design)
    "q06_embedding_neardup": {"max_scan_cols": 2, "contains": ["WindowGroupLimit"],
                              "contains_n": {"RoundRobinPartitioning": 2},
                              "contains_not": ["SortMergeJoin", "BroadcastNestedLoopJoin",
                                               "CartesianProduct"]},
    # per-source boilerplate: the per-doc DISTINCT gram set builds
    # in-array MAP-SIDE (no count-distinct shuffle); the plan re-scans
    # the pruned 3-col corpus a bounded 3 times (doc_grams / exploded /
    # gram_df) and nothing is pairwise
    "q09_boilerplate_ngrams": {"max_scan_cols": 3, "max_scans": 3,
                               "contains_not": ["CartesianProduct"]},
    # exact-substring runs: the per-gram occurrence cap must stay a
    # map-side Partial WindowGroupLimit (before the gram shuffle), pair
    # expansion is in-array over the capped occurrence sets (join-free),
    # and the island window + maximal-run groupBy share the materialized
    # diag partitioning — 2 exchanges, one 2-col scan, no join of any
    # kind (a join/cartesian here means the self-join formulation crept
    # back in)
    # (2 hash exchanges + 1 explicit-width round-robin spread of the
    # capped occurrence arrays — the q06/q55 AQE-coalesce hardening)
    # (the roundrobin key is case-sensitive: the operator prints as
    # "Exchange RoundRobinPartitioning(n), REPARTITION_BY_NUM" — the
    # round-9 gate shipped it lowercased, which counts 0 and caps
    # nothing; fixed round 10)
    # unigram-LM encode: the fit runs eagerly in fn() (driver-looped,
    # vocabulary-bounded jobs — the q16/q104 precedent, ungated), so
    # the audited plan is the ENCODE join: the word-keyed encode table
    # reads the fit's localCheckpointed word state (no parquet), the
    # token stream is the one corpus scan, and nothing pairs
    "q122_unigram_encode": {"max_scan_cols": 2, "max_scans": 1,
                            "contains_not": ["CartesianProduct",
                                             "BroadcastNestedLoopJoin"]},
    # soft encode (q137): same audited surface as q122 — the soft fit
    # runs eagerly in fn() (vocab-bounded driver-looped jobs), the
    # word-level expected-piece table is checkpointed, and the audited
    # plan is the one-scan token-stream join
    "q137_unigram_soft_encode": {"max_scan_cols": 2, "max_scans": 1,
                                 "contains_not": ["CartesianProduct",
                                                  "BroadcastNestedLoopJoin"]},
    # uncapped duplicated-span cut list (Lee et al. ExactSubstr, the
    # exact tier alongside q45's capped pair tier): duplicated grams
    # come from a partial-aggregatable groupBy(g).count() — never an
    # occurrence list — the join back is gram-keyed, and islands are
    # per-document windows. 2 scans of the 2-col projection (the gram
    # frame feeds both sides of the semi join; re-scanning the pruned
    # scan beats a corpus-sized persist). WindowGroupLimit is FORBIDDEN
    # here — this tier is exact by construction, a cap appearing means
    # someone re-introduced the bounded-recall screen
    "q119_duplicated_spans": {"max_scan_cols": 2, "max_scans": 2,
                              "contains_not": ["CartesianProduct",
                                               "BroadcastNestedLoopJoin",
                                               "WindowGroupLimit"]},
    # the apply half of the uncapped tier: q119's span detection (2
    # scans) + the token side of the shared apply_span_scrub kernel
    # (1 scan, doc-keyed join, in-array masking — no token explode);
    # the cap stays forbidden end to end
    "q132_duplicated_scrub": {"max_scan_cols": 2, "max_scans": 3,
                              "contains_not": ["CartesianProduct",
                                               "BroadcastNestedLoopJoin",
                                               "WindowGroupLimit"]},
    # incremental detect (delta maintenance for the uncapped tier):
    # ONE per-gram count with both slice counts as conditional sums
    # (partial-aggregatable — the q119 skew property, kept), the
    # newly-duplicated semi join bounding islands/spans to batch +
    # affected-history docs, 3 scans of the 2-col projection (counts,
    # affected probe, target rebuild — the q119 re-scan trade). Still
    # the exact tier: the cap operator stays forbidden
    "q136_incremental_spans": {"max_scan_cols": 2, "max_scans": 3,
                               "contains_not": ["CartesianProduct",
                                                "BroadcastNestedLoopJoin",
                                                "WindowGroupLimit"]},
    "q45_exact_substring_runs": {"max_scan_cols": 2, "max_scans": 1,
                                 "max_n": {"Exchange hashpartitioning": 2,
                                           "Exchange RoundRobinPartitioning": 1},
                                 "contains": ["WindowGroupLimit"],
                                 "contains_not": ["CartesianProduct",
                                                  "SortMergeJoin",
                                                  "BroadcastHashJoin",
                                                  "BroadcastNestedLoopJoin"]},
    # substring scrub: q45's run plan + ONE per-doc span join; masking/
    # reconstruction must stay in-array. The q45 kernel contributes
    # BOTH Generates (gram explode + pair explode), so the cap of 2
    # leaves ZERO headroom — a token/position explode creeping into
    # the masking is caught immediately. Span-list join is doc-keyed
    # (legitimately shuffles; no strategy gate)
    "q46_substring_scrub": {"max_scan_cols": 2, "max_scans": 2,
                            "contains": ["WindowGroupLimit"],
                            "max_n": {"Generate": 2},
                            "contains_not": ["CartesianProduct",
                                             "BroadcastNestedLoopJoin"]},
    # incremental substring containment: per-doc distinct gram sets
    # build IN-ARRAY (2 Generates — history + batch sides; a third
    # means a per-doc dedup shuffle crept in as an explode+distinct),
    # history/batch co-partition on g, nothing pairwise. The gram join
    # legitimately shuffles at scale (no strategy gate)
    "q47_substring_containment": {"max_scan_cols": 2, "max_scans": 2,
                                  "max_n": {"Generate": 2},
                                  "contains_not": ["CartesianProduct",
                                                   "BroadcastNestedLoopJoin"]},
    # intra-doc repetition runs: the q45 kernel on self-pairs — same
    # join-free shape with every key one notch finer ((doc_id, g) cap,
    # (doc_id, d) islands). 2 Generates (gram + pair explodes) with
    # zero headroom, 2 hash exchanges + the explicit-width spread,
    # no join of any kind (a join here means the self-join CTE
    # formulation crept in)
    "q63_selfrep_runs": {"max_scan_cols": 2, "max_scans": 1,
                          "max_n": {"Exchange hashpartitioning": 2,
                                    "Exchange RoundRobinPartitioning": 1,
                                    "Generate": 2},
                          "contains": ["WindowGroupLimit"],
                          "contains_not": ["CartesianProduct",
                                           "SortMergeJoin",
                                           "BroadcastHashJoin",
                                           "BroadcastNestedLoopJoin"]},
    # self-repetition scrub: q102's run plan + ONE doc-keyed span join;
    # masking/reconstruction in-array (the q46 contract — a token or
    # position explode creeping into the masking trips the Generate
    # cap immediately)
    "q66_selfrep_scrub": {"max_scan_cols": 2, "max_scans": 2,
                           "contains": ["WindowGroupLimit"],
                           "max_n": {"Generate": 2},
                           "contains_not": ["CartesianProduct",
                                            "BroadcastNestedLoopJoin"]},
    # k-means: the ONLY joins are the hint-broadcast FIXED-k centroid
    # cross joins (print as BroadcastNestedLoopJoin); an SMJ or
    # CartesianProduct means a hint was lost or something corpus-sized
    # got joined. 3 hint sites = seed centroids + updated centroids
    # (+ the seed hint's plan-tree duplicate under both consumers).
    "q17_semantic_kmeans": {"max_scan_cols": 2, "max_hint_broadcasts": 3,
                            "no_smj": True,
                            "contains": ["BroadcastNestedLoopJoin"],
                            "contains_not": ["CartesianProduct"]},
    # SemDeDup: the per-cluster member cap must stay a map-side rank
    # limit and pair scoring stays in-array (join-free); the only
    # corpus-shaped join is the per-vector decision join, which
    # legitimately shuffles at scale (no join-strategy gate). The
    # member tier sits above the persisted assignment (round 9), so
    # its WindowGroupLimit prints under the cache's nested plan
    # sections — checked anywhere, and the cache barrier itself is
    # gated as present (InMemoryRelation: the shared-assignment
    # dedup regressing to a doubled subtree would drop it)
    "q25_semantic_dedup": {"max_scan_cols": 2,
                           "contains": ["InMemoryTableScan"],
                           "contains_anywhere": ["WindowGroupLimit"],
                           "contains_not": ["CartesianProduct"]},
    # incremental SemDeDup maintenance: history-fit k-means front
    # (the BroadcastNestedLoopJoin is q17's deliberate fixed-k
    # broadcast cross join), ONE persisted assignment shared by the
    # touched set + both pair tiers (InMemoryTableScan), the touched
    # semi-join runs BEFORE the capped member windows (WindowGroupLimit
    # behind the cache barrier — the q116 bounding discipline, here
    # bounding BOTH pair scans to batch-touched clusters), pair scoring
    # in-array. 3 scans = seed + history-fit + full-assignment sides of
    # the embeddings table; a 4th means the persist barrier broke
    # semantic refit-trigger drift report: the q120 assignment front
    # (broadcast fixed-k stored centroids = the deliberate BNLJ, ONE
    # persisted assignment, touched semi-join) with NO pair tier at
    # all — one aggregation, k-bounded output; a window or pairing
    # operator here means someone re-attached the decision tier
    "q133_semantic_drift": {"max_scan_cols": 2, "max_scans": 3,
                            "contains": ["InMemoryTableScan",
                                         "BroadcastNestedLoopJoin"],
                            "contains_not": ["CartesianProduct", "Window",
                                             "WindowGroupLimit"]},
    "q120_incremental_semdedup": {"max_scan_cols": 2, "max_scans": 3,
                                  "contains": ["InMemoryTableScan",
                                               "BroadcastNestedLoopJoin"],
                                  "contains_anywhere": ["WindowGroupLimit"],
                                  "contains_not": ["CartesianProduct"]},
    # refit transition diff: TWO persisted assignment fronts (stored
    # model + full refit — the BNLJs are their deliberate fixed-k
    # broadcast cross joins), both pair tiers behind the k-bounded
    # changed-or-over-cap semi-join (broadcast — a shuffled semi here
    # means the scan set stopped being collected as a broadcast) with
    # the member cap as a rank limit (WindowGroupLimit, behind the
    # cache barriers), the diff itself ONE vec_id-keyed join chain.
    # 6 scans = seed + round-1 + assignment sides of each model's
    # front; a 7th means a persist barrier broke and a subtree
    # re-derives a whole k-means front per consumer
    "q134_semantic_refit": {"max_scan_cols": 2, "max_scans": 6,
                            "contains": ["InMemoryTableScan",
                                         "BroadcastNestedLoopJoin"],
                            "contains_anywhere": ["WindowGroupLimit"],
                            "contains_not": ["CartesianProduct"]},
    # learned quality classifier: fn() runs the fit (two bounded engine
    # jobs per steepest-descent step over the cached per-doc feature
    # frame — the tokenizer.py eager-fit precedent), so the audited
    # plan is the SCORING pass: the cached feature frame
    # (InMemoryTableScan; built with ONE doc-keyed shuffle — per-row
    # in-array bucket-count pairs, no token explode, no join) + a
    # literal weight map folded per row. Zero Generates and zero joins
    # of any kind; no window, no cartesian; scans read only
    # (doc_id, text, source)
    # held-out calibration sweep: the fit runs eagerly (driver-held
    # weights), so the audited plan is the held-slice scoring pass —
    # one 3-col corpus scan, the in-array feature build's single
    # doc-keyed shuffle, ONE global confusion aggregate, one Generate
    # (the grid explode of the 1-row aggregate). Join-free: any join
    # means the weight map stopped being a literal
    "q115_classifier_calibration": {"max_scan_cols": 3, "max_scans": 1,
                                    "max_n": {"Generate": 1,
                                              "Exchange hashpartitioning": 2},
                                    "contains_not": ["CartesianProduct",
                                                     "SortMergeJoin",
                                                     "BroadcastHashJoin",
                                                     "BroadcastNestedLoopJoin"]},
    "q104_quality_classifier": {"max_scan_cols": 3,
                                "contains": ["InMemoryTableScan"],
                                "max_n": {"Generate": 0,
                                          "Exchange hashpartitioning": 3},
                                "contains_not": ["CartesianProduct",
                                                 "SortMergeJoin",
                                                 "BroadcastHashJoin",
                                                 "WindowExec",
                                                 "BroadcastNestedLoopJoin"]},
    # DSIR importance selection: the compact pair frame is cached (one
    # corpus scan feeds both distributions + scoring), the model-sized
    # ratio table BROADCASTS into the scoring join (an SMJ here means
    # the 64-row model joined as a big side), the two
    # BroadcastNestedLoopJoins are the 1-row totals crosses, and the
    # selection is a TakeOrderedAndProject — never a global sort
    "q69_dsir_selection": {"max_scan_cols": 3,
                            "contains": ["TakeOrderedAndProject",
                                         "InMemoryTableScan",
                                         "BroadcastHashJoin"],
                            "max_n": {"BroadcastNestedLoopJoin": 2},
                            "contains_not": ["CartesianProduct",
                                             "SortMergeJoin",
                                             "WindowExec"]},
    # count-min sketch: the d-fold (row, bucket) expansion collapses to
    # the FIXED d x w table before the shuffle (partial agg), and the
    # estimate join must BROADCAST that fixed-size sketch — an SMJ here
    # means the sketch joined as a big side, defeating its purpose
    "q33_countmin_freq": {"codegen": True, "max_scan_cols": 1,
                          "broadcasts": 1, "no_smj": True},
    # data-quality audit: every check reads a KEY-ONLY pruned scan
    # (constraints over one table share one conditional agg) and the
    # report assembly is 1-row x 1-row crosses — nothing corpus-sized
    # moves; FK anti-joins legitimately shuffle at scale (no join gate)
    "q12_data_quality_audit": {"max_scan_cols": 2,
                               "contains_not": ["CartesianProduct"]},
    # PII scrub and stratified sampling are map-only passes: any
    # Exchange would mean a shuffle crept into a linear scan
    "q102_pii_scrub": {"codegen": True, "max_scan_cols": 2, "contains_not": ["Exchange"]},
    "q105_stratified_sample": {"codegen": True, "max_scan_cols": 2, "contains_not": ["Exchange"]},
    # contamination screen: bench side must broadcast, corpus side streams
    "q38_contamination_screen": {"codegen": True, "max_scan_cols": 2, "broadcasts": 1, "no_smj": True},
    # the bucketized range join must plan as a HASH join on the bucket
    # key — a nested-loop/cartesian here is the exact failure mode the
    # rewrite exists to prevent
    "q31_interval_join": {"codegen": True, "max_scan_cols": 4,
                          "contains_not": ["BroadcastNestedLoopJoin", "CartesianProduct"]},
    # IVF ANN: the only explicit broadcast hints allowed are the centroid
    # set and the probe-derived tables (cent appears twice in the hint
    # tree via plan reuse). A 5th hint means a corpus-derived table
    # (e.g. a per-vector norms build) got broadcast again — the exact
    # 100 TB failure the norm-folding rewrite removed.
    # IVF ANN: two explicit broadcast SITES — the FIXED centroid set and
    # the probe-bounded probe_info (|probes| * nprobe rows). The
    # analyzed tree duplicates the centroid hint because both the
    # assignment and the probe ranking consume the hinted cross join,
    # so the node count is 3. A 4th means something candidate- or
    # corpus-proportional is being broadcast again (the regression
    # fixed after the array-native rewrite briefly broadcast the
    # cell-sized candidate set with a probe embedding per row).
    # The top-5 rank filter must stay a map-side group limit, and the
    # only nested-loop is the hint-broadcast centroid cross join (prints
    # as BroadcastNestedLoopJoin) — a CartesianProduct means the hint
    # was lost. No no_smj gate: the corpus-side member join (assignment
    # x embeddings on vec_id) legitimately shuffles at scale; only the
    # toy-sf plan happens to broadcast it.
    "q39_ann_ivf": {"codegen": True, "max_scan_cols": 2, "max_hint_broadcasts": 3,
                    "contains": ["WindowGroupLimit"], "contains_not": ["CartesianProduct"]},
    # retrieval/LM family: token explodes must stay 2-column scans and
    # the tf-idf top-3 must keep its map-side rank limit
    "q110_tfidf_terms": {"codegen": True, "max_scan_cols": 2, "contains": ["WindowGroupLimit"]},
    "q124_bigram_lm_score": {"codegen": True, "max_scan_cols": 2},
    "q125_shingle_novelty": {"codegen": True, "max_scan_cols": 2},
    # global top-k must stay a TakeOrderedAndProject (map-side k-row
    # heaps). The operator currently also arises from a rank-filter
    # window via LimitPushDownThroughWindow; the gate pins it so any
    # edit that breaks that pushdown's preconditions (different rank
    # function, reordered filter) fails here instead of silently
    # single-partitioning the whole aggregate
    "q126_vocab_coverage": {"codegen": True, "max_scan_cols": 1,
                           "contains": ["TakeOrderedAndProject"]},
    "q123_bm25_search": {"codegen": True, "max_scan_cols": 2,
                        "contains": ["TakeOrderedAndProject"]},
    "q32_event_paths": {"codegen": True, "max_scan_cols": 4,
                        "contains": ["TakeOrderedAndProject"]},
    # vote-string render+parse is a pure map pass: any Exchange means a
    # shuffle crept into the Arrow kernel pipeline
    "q127_vote_parse": {"max_scan_cols": 4, "contains_not": ["Exchange"]},
    "q128_block_parse": {"max_scan_cols": 3, "contains_not": ["Exchange"]},
    "q44_varint_codec": {"max_scan_cols": 1, "contains_not": ["Exchange"]},
    # LSH-then-verify estimator audit: the candidate front keeps q55's
    # map-side bucket cap; the verify tier is two doc-keyed joins of
    # the (bounded) pair table against in-array shingle sets — join
    # strategy ungated (array side is corpus-sized at scale, SMJ is
    # correct), pairing forbidden
    "q117_lsh_estimator_audit": {"max_scans": 3,
                                 "contains": ["WindowGroupLimit"],
                                 "contains_not": ["CartesianProduct",
                                                  "BroadcastNestedLoopJoin"]},
    # source dup matrix: the q117 verify front (bucket cap intact)
    # plus two doc-keyed source lookups; scans stay bounded (sig build,
    # shingle build, source sides — AQE typically reuses one)
    "q118_source_dup_matrix": {"max_scans": 4,
                               "contains": ["WindowGroupLimit"],
                               "contains_not": ["CartesianProduct",
                                                "BroadcastNestedLoopJoin"]},
    # incremental cluster maintenance: both Hash-Min loops (history
    # graph + contracted frontier) run behind localCheckpoints and are
    # gated via CC_EXPECTATIONS (incl. cc:contract), so the catalog-
    # level plan is only the final assembly — ONE corpus scan reading
    # doc_id alone, joined to the label RDDs; a second corpus read or
    # any pairwise operator means the incremental structure broke
    "q114_incremental_clusters": {"codegen": True, "max_scan_cols": 1, "max_scans": 1,
                                  "contains_not": ["CartesianProduct",
                                                   "BroadcastNestedLoopJoin"]},
    # incremental canonical churn: labels behind the CC checkpoints
    # (gated via CC_EXPECTATIONS), so the catalog plan is the assembly
    # — base scan + quality scan (2 corpus reads), touched semi-join
    # BEFORE the ranking windows (both cluster-partitioned, never
    # corpus-wide), no pairing
    # distinct-signature cap (round-14 sweep): without AQE's stage
    # reuse the [doc_id] projection executes twice (identical subtrees
    # both print), and the cached [doc_id,text] build surfaces — raw
    # count flaps 1↔3 for one logical plan. The durable invariant is
    # <= 2 distinct projections of the corpus (ids + the text build);
    # a third signature means a new/wider read crept in.
    "q116_incremental_canonical": {"codegen": True, "max_distinct_scans": 2,
                                   "contains_not": ["CartesianProduct",
                                                    "BroadcastNestedLoopJoin"]},
    # canonical-corpus resolution: the LSH front half (bucket-capped,
    # audited via q55/q37) sits behind the CC localCheckpoint, so the
    # final plan is only rank+agg — which must stay hash-partitioned
    # per cluster, never a cartesian/nested-loop pairing
    "q10_canonical_corpus": {"codegen": True,
                             "contains_not": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # adaptive quantile thresholds: the cumulative windows run over the
    # reduced (lang, value) domain and the threshold tables broadcast
    # back — a SortMergeJoin means a corpus-sized side joined the
    # lang-cardinality thresholds
    "q11_adaptive_quality_filter": {"codegen": True, "max_scan_cols": 2, "no_smj": True},
    # incremental dedup is ONE shuffle on the fingerprint: no joins at
    # all, both decisions are windows inside the fp groups
    "q13_incremental_dedup": {"codegen": True, "max_scan_cols": 2,
                              "contains_not": ["SortMergeJoin", "BroadcastHashJoin"]},
    # NB language ID: the scan stays 3 columns; the fitted model (dense,
    # vocab x classes — model-sized by construction) and the class/prior/
    # vocab-size sides ALL broadcast, so scoring is a map-side pass and
    # no corpus-sized join shuffles onto Zipf-skewed token keys
    "q15_nb_langid": {"codegen": True, "max_scan_cols": 3, "broadcasts": 3, "no_smj": True},
    # token-budget mix: rate table broadcast back over the corpus; an
    # SMJ here means the per-source rates joined as a big side
    "q14_token_budget_mix": {"codegen": True, "max_scan_cols": 3, "broadcasts": 1, "no_smj": True},
    # drift monitor: global band distribution must broadcast
    "q19_quality_drift": {"codegen": True, "max_scan_cols": 4, "broadcasts": 1, "no_smj": True},
    # CCNet perplexity bands: the tertile machinery must NEVER window
    # the corpus — per-doc scores reduce to the (lang, milli-nat)
    # distribution FIRST (partial_count on the fine composite key, the
    # q26 restatement), so a row_number anywhere means the corpus-wide
    # quantile window crept in. Bigrams build in-array (Generate is the
    # bounded explode of the zip_with stream: corpus + target + vocab);
    # scans stay 3 columns. No codegen expectation (HOF lambdas stay
    # out of codegen by design).
    "q106_perplexity_bands": {"max_scan_cols": 3,
                              "contains": ["partial_count"],
                              "contains_not": ["row_number",
                                               "CartesianProduct",
                                               "SortMergeJoin"],
                              "max_n": {"Generate": 4,
                                        "Exchange hashpartitioning": 8}},
    # Bloom ingestion screen: the two BroadcastNestedLoopJoins are the
    # 1-row m-scalar crosses; the position-set and history-fp joins
    # stay hash joins (broadcast while small, shuffle at scale — never
    # a cartesian); Generate is the bounded k=3 position explode x2.
    # The exact fp join's probe side must be the filtered maybe
    # residue, which the gate pins indirectly: no third Generate and
    # no SMJ means the fp join consumed the screened frame, not a
    # rebuilt corpus stream
    "q71_bloom_screen": {"max_scan_cols": 3,
                          "contains_not": ["CartesianProduct",
                                           "SortMergeJoin"],
                          "max_n": {"Generate": 2,
                                    "BroadcastNestedLoopJoin": 2,
                                    "Exchange hashpartitioning": 7}},
    # winnowing fingerprints: all gram/hash/window-minima work is
    # in-array map-side (zip_with over shifted slices — an indexed-
    # lambda formulation re-ran the md5 chain per window, the q09
    # class); the fingerprint frame is cached (sharing tier + report
    # both read it), and the only joins are the fingerprint-count
    # share join and the report's doc-keyed left join
    "q75_winnowing_fingerprints": {"contains": ["InMemoryTableScan"],
                                    "contains_not": ["row_number",
                                                     "CartesianProduct",
                                                     "SortMergeJoin"],
                                    "max_n": {"Exchange hashpartitioning": 4}},
    # curation funnel: every stage flag computes off CACHED cuts (the
    # flag frame, c2, per-doc scores, band survivors) — the first
    # formulation re-derived the subtrees per consumer (46 corpus
    # scans, 95 exchanges; the executed assembly must read ONE scan +
    # InMemoryTableScans). No row_number anywhere (dedup winner is a
    # null-skipping min window; budget is the two-phase shape)
    # (no no-SMJ term: the band join is per-doc scores x survivors —
    # corpus-sized on BOTH sides, so a doc-keyed SMJ is the correct
    # strategy at scale; forbidding it would pin a broadcast that
    # breaks at 100 TB)
    "q72_curation_funnel": {"max_scans": 1,
                             "contains": ["InMemoryTableScan"],
                             "contains_not": ["row_number",
                                              "CartesianProduct"],
                             "max_n": {"Exchange hashpartitioning": 8}},
    # per-source token budget: the greedy cumulative-sum selection runs
    # over the cached (source, n_chars) DISTRIBUTION (InMemoryTableScan
    # — one corpus pass feeds both the roll-up and the boundary
    # locator), never the raw rows: a row_number or an uncached second
    # corpus aggregation means the q26-class low-cardinality corpus
    # window crept back. The boundary join must broadcast (at most one
    # boundary group per source).
    "q70_source_token_budget": {"max_scan_cols": 4,
                                 "contains": ["InMemoryTableScan",
                                              "partial_sum"],
                                 "contains_not": ["row_number",
                                                  "CartesianProduct",
                                                  "SortMergeJoin"],
                                 "max_n": {"Exchange hashpartitioning": 7}},
    # CCNet line dedup: the per-doc DISTINCT line hashes build
    # IN-ARRAY before the explode (array_distinct in the Generate — no
    # count-distinct shuffle) and the exploded (doc_id, h) frame is
    # CACHED (it feeds the duplicate vote AND the removal lists; the
    # 2 extra FileScan/Generate prints are the cache build plan
    # repeated under its two TableCacheQueryStage references — the
    # real execution scans the corpus twice: cache build + mask side).
    # Masking is in-array per doc row, so no row_number and no
    # line-level reassembly shuffle can appear; join strategy is
    # deliberately ungated (removal lists vs docs is corpus-sized on
    # both sides at 100 TB — an SMJ there is correct).
    "q111_line_dedup": {"codegen": True, "max_scan_cols": 3, "max_scans": 3,
                        "contains_anywhere": ["InMemoryTableScan"],
                        "contains_not": ["row_number", "CartesianProduct",
                                         "BroadcastNestedLoopJoin"],
                        "max_n": {"Generate": 2,
                                  "Exchange hashpartitioning": 4}},
    "q112_line_scrub": {"codegen": True, "max_scan_cols": 3, "max_scans": 3,
                        "contains_anywhere": ["InMemoryTableScan"],
                        "contains_not": ["row_number", "CartesianProduct",
                                         "BroadcastNestedLoopJoin"],
                        "max_n": {"Generate": 2,
                                  "Exchange hashpartitioning": 3}},
    # exact deciles WITHOUT the global-sort window (round-11's one
    # `weak` plan, restated): the corpus reduces to the CACHED
    # (price_cents -> count) distribution first — one corpus scan
    # feeds the cumulative window, the bucket totals and the count
    # aggregate via InMemoryTableScan — and the cumulative window is
    # PARTITIONED by the 65536-cent value bucket, so an ntile/
    # row_number/percent_rank (the unpartitioned corpus window) can
    # never reappear. The only executed BNLJ is the 1-row count
    # cross; the triangular bucket-prefix join is bucket-table-sized
    # (domain/65536 rows) behind broadcast stages.
    "q81_ntile_deciles": {"codegen": True, "max_scan_cols": 1, "max_scans": 1,
                          "contains": ["InMemoryTableScan"],
                          "contains_not": ["ntile", "row_number",
                                           "percent_rank", "cume_dist",
                                           "CartesianProduct", "SortMergeJoin"],
                          "max_n": {"Exchange hashpartitioning": 3,
                                    "BroadcastNestedLoopJoin": 2}},
    # retention cohorts: user-keyed join + window over the aggregated
    # cohort×offset matrix — no nested-loop pairing anywhere
    "q40_retention_cohorts": {"codegen": True, "max_scan_cols": 2,
                              "contains_not": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # KMV sketch: the per-source k-smallest rank must stay a map-side
    # group limit — only k rows per source may survive to the agg
    "q42_kmv_distinct": {"codegen": True, "max_scan_cols": 2, "contains": ["WindowGroupLimit"]},
    # dimension enrichment must stay all-broadcast (supplier + nation)
    # — any SMJ means a dim table crossed the broadcast threshold
    # unnoticed. (Floor is the EXECUTED-section join count; the old
    # floor of 4 was calibrated against full-string counting, which
    # double-counted each join via its Initial Plan copy.)
    "q02_broadcast_enrich": {"codegen": True, "max_scan_cols": 3, "broadcasts": 2, "no_smj": True},
    # as-of attach: the last-writer pick is a rank window the optimizer
    # keeps as a map-side group limit; never a nested-loop time join
    "q35_asof_enrich": {"codegen": True, "max_scan_cols": 5, "contains": ["WindowGroupLimit"],
                        "contains_not": ["BroadcastNestedLoopJoin", "CartesianProduct"]},
    # hypertable rollup: ALL resolutions from ONE scan — a
    # per-resolution union would multiply the scans, so the scan count
    # itself is the gate
    "q48_time_bucket_rollup": {"codegen": True, "max_scan_cols": 3, "max_scans": 1},
    # token stats: explode + partial agg off a pruned 3-col scan
    "q52_token_stats": {"codegen": True, "max_scan_cols": 3},
    # multi-probe ANN: probes (base bucket + bit-flip variants) and the
    # capped candidate set are the ONLY explicit broadcasts — both are
    # probe-bounded. A 3rd hint means a corpus-derived table (norms)
    # got broadcast again; the bucket cap must stay a map-side rank
    # limit exactly as in q58.
    "q07_ann_multiprobe": {"codegen": True, "max_scan_cols": 2, "no_smj": True,
                           "contains": ["WindowGroupLimit"], "max_hint_broadcasts": 2},
    # contrastive mining: negatives inherit q55's map-side bucket cap
    # (WindowGroupLimit); the only explicit broadcast is the 1-row
    # stats aggregate whose crossJoin plans as a broadcast nested loop
    # over ONE row — a CartesianProduct or SMJ means a corpus-sized
    # side crossed instead.
    "q57_contrastive_pairs": {"codegen": True, "max_scan_cols": 2, "no_smj": True,
                               "contains": ["WindowGroupLimit"], "max_hint_broadcasts": 1,
                               "contains_not": ["CartesianProduct"]},
    # cross-modal screen: the docs↔media pairing is an id-keyed
    # broadcast hash join and the size/duration bounds attach as a
    # broadcast 1-row aggregate — never an SMJ or a cartesian pairing
    "q43_crossmodal_screen": {"codegen": True, "max_scan_cols": 3, "broadcasts": 1,
                              "no_smj": True, "max_hint_broadcasts": 1,
                              "contains_not": ["CartesianProduct"]},
}


# Production ETL fan-out gates: every plugin result table, planned over
# a STAGED parquet events table (the run_pipeline / 100 TB shape, ~48
# event columns). Only SCALE-INVARIANT properties are gated — column
# pruning (a plugin scan reading the full event schema is wrong),
# dispatch-filter pushdown (the event_type predicate must reach the
# parquet scan), bounded scan counts (each table re-reads the staged
# table a fixed number of times), codegen, cartesian-freedom. Join
# strategy is deliberately NOT gated: the matched-pair joins are
# events-scale on BOTH sides, so the broadcast AQE picks at fixture
# size would legitimately be a sort-merge join at production scale.
PLUGIN_EXPECTATIONS = {
    "block_part_latencies": {"codegen": True, "max_scans": 2, "max_scan_cols": 9, "pushed_filters": True, "contains_not": ["CartesianProduct"]},
    "consensus_steps": {"codegen": True, "max_scans": 1, "max_scan_cols": 26, "pushed_filters": True, "contains_not": ["CartesianProduct"]},
    "consensus_timing": {"codegen": True, "max_scans": 3, "max_scan_cols": 6, "pushed_filters": True, "contains_not": ["CartesianProduct"]},
    # the network-latency family reads its checkpointed match ledger (a
    # LogicalRDD, no parquet scan of its own); the scan gates live on
    # the ledger's own plan, NETWORK_LATENCY_LEDGER_EXPECTATIONS below
    "network_latency_duplicates_debug": {"codegen": True, "contains_not": ["CartesianProduct"]},
    "network_latency_global_stats": {"codegen": True, "contains_not": ["CartesianProduct"]},
    "network_latency_measurements": {"codegen": True, "contains_not": ["CartesianProduct"]},
    "network_latency_node_stats": {"codegen": True, "contains_not": ["CartesianProduct"]},
    "network_latency_nodepair_summary": {"codegen": True, "contains_not": ["CartesianProduct"]},
    "p2p_messages": {"codegen": True, "max_scans": 2, "max_scan_cols": 16, "pushed_filters": True, "contains_not": ["CartesianProduct"]},
    # the timeout family's clusters/events tables read only the family's
    # shared pre-filtered intermediate (no parquet scan of their own)
    "timeout_analysis_clusters": {"codegen": True, "contains_not": ["CartesianProduct"]},
    "timeout_analysis_events": {"codegen": True, "contains_not": ["CartesianProduct"]},
    "timeout_analysis_summary": {"codegen": True, "max_scans": 1, "max_scan_cols": 1, "pushed_filters": True, "contains_not": ["CartesianProduct"]},
    "tracer_events": {"codegen": True, "max_scans": 3, "max_scan_cols": 26, "pushed_filters": True, "contains_not": ["CartesianProduct"]},
    "validator_participation": {"codegen": True, "max_scans": 4, "max_scan_cols": 7, "pushed_filters": True, "contains_not": ["CartesianProduct"]},
    "vote_latencies": {"codegen": True, "max_scans": 2, "max_scan_cols": 10, "pushed_filters": True, "contains_not": ["CartesianProduct"]},
}


# The network-latency match ledger runs BEHIND a localCheckpoint taken
# while the plugin builds, so its five tables' plans read a LogicalRDD
# — this gates the un-checkpointed match_ledger(events) plan over the
# staged parquet events, the one plan of the family that scans them:
# two tiers of window ranks + full outer joins over pruned send/receive
# projections with the dispatch filter pushed down.
NETWORK_LATENCY_LEDGER_EXPECTATIONS = {
    "codegen": True, "max_scans": 5, "max_distinct_scans": 3, "max_scan_cols": 7,
    "pushed_filters": True, "contains_not": ["CartesianProduct"],
}


# The q37/q10 connected-components loop runs BEHIND a localCheckpoint,
# so the catalog-level gates above never see its per-iteration plan —
# these gate the loop's building blocks directly (the exact functions
# hash_min_components/cluster_labels execute). The scale invariants:
# the seed and every iteration read ONLY the checkpointed dup-graph
# (no corpus FileScan inside the loop — the corpus-sized table is
# touched once, by the final join-back), each iteration costs a BOUNDED
# number of shuffles over edge-endpoint-sized tables, and the
# neighbor-min keeps its map-side combine (partial_min) so shuffle
# volume is one row per (endpoint, partition), not one per edge. Join
# strategy is deliberately ungated: at toy scale AQE broadcasts the
# small sides, at production scale dup-graph×labels legitimately SMJs.
CC_EXPECTATIONS = {
    "cc:seed": {"codegen": True,
                "contains_not": ["FileScan parquet", "CartesianProduct",
                                 "BroadcastNestedLoopJoin"],
                "max_n": {"Exchange hashpartitioning": 1, "BroadcastExchange": 0}},
    "cc:propagate": {"codegen": True, "contains": ["partial_min"],
                     "contains_not": ["FileScan parquet", "CartesianProduct",
                                      "BroadcastNestedLoopJoin"],
                     "max_n": {"Exchange hashpartitioning": 3, "BroadcastExchange": 2}},
    "cc:propagate_jump": {"codegen": True, "contains": ["partial_min"],
                          "contains_not": ["FileScan parquet", "CartesianProduct",
                                           "BroadcastNestedLoopJoin"],
                          "max_n": {"Exchange hashpartitioning": 4, "BroadcastExchange": 4}},
    # q114's frontier contraction: two label lookups + dedup over the
    # CHECKPOINTED edge/label frames — the merge loop's input must be
    # frontier-sized and corpus-scan-free by construction (the verdict's
    # "iteration scans bounded to the frontier" bar). Join strategy
    # ungated for the same reason as the loop itself.
    # exchange cap raised 4 -> 6 and a JOIN cap added (round 13): at
    # sf0.1 AQE executes the two label lookups as BroadcastHashJoins
    # but leaves residual pre-broadcast shuffles in place and injects a
    # runtime bloom filter on the edge side — 5 hash exchanges for the
    # IDENTICAL logical plan that counts 3 at sf0.01 (reproduced on the
    # unmodified r12 tree, so an AQE size-threshold artifact, not a
    # regression). The join cap is the real invariant: a THIRD join in
    # the contraction means a new lookup crept in.
    "cc:contract": {"contains_not": ["FileScan parquet", "CartesianProduct",
                                     "BroadcastNestedLoopJoin"],
                    "max_n": {"Join": 2, "Exchange hashpartitioning": 6}},
}


def audit_cc(spark, sf_dir: str) -> list[str]:
    """Gate the Hash-Min CC iteration plans (CC_EXPECTATIONS).

    Builds the real dup-graph off ``sf_dir``'s documents and plans the
    iteration-1 propagate (labels = seed, exactly what the loop's first
    pass executes) and the pointer-jump variant."""
    from cometbft_log_etl_spark.queries.neardup import (
        _contracted_edges,
        cc_propagate,
        cc_seed,
        dup_edges,
        hash_min_components,
        incremental_frontier,
    )
    from cometbft_log_etl_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    sym = dup_edges(docs)
    seed = cc_seed(sym)
    hist_sym, frontier = incremental_frontier(sym)
    hist_labels = hash_min_components(cc_seed(hist_sym), hist_sym)
    failures: list[str] = []
    plans = {
        "cc:seed": seed,
        "cc:propagate": cc_propagate(seed, sym, with_jump=False),
        "cc:propagate_jump": cc_propagate(seed, sym, with_jump=True),
        "cc:contract": _contracted_edges(frontier, hist_labels),
    }
    for name, df in plans.items():
        df.collect()  # settle AQE on the final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        failures.extend(check_plan(name, plan, "", CC_EXPECTATIONS[name]))
    return failures


def audit_plugins(spark) -> list[str]:
    """Plan gates for the production ETL fan-out (PLUGIN_EXPECTATIONS)
    and the network-latency match ledger
    (NETWORK_LATENCY_LEDGER_EXPECTATIONS).

    Builds a fixture scenario, runs run_pipeline into a lake (so every
    plugin is planned off the staged events scan the CLI uses), and
    checks each result table's executed plan plus the un-checkpointed
    ledger plan over the same staged events. Every produced table MUST
    have a gate (and vice versa) so a new plugin can't ship ungated."""
    import shutil
    import tempfile

    from cometbft_log_etl_spark.pipeline import run_pipeline
    from cometbft_log_etl_spark.plans.network_latency import match_ledger
    from cometbft_log_etl_spark.session import persistent_rdd_ids, release_new_persists
    from tests.fixtures import build_scenario, write_logs

    work = tempfile.mkdtemp(prefix="plugin-audit-")
    failures: list[str] = []
    persisted_before = persistent_rdd_ids(spark)
    try:
        logdir = os.path.join(work, "logs")
        write_logs(build_scenario(heights=4), logdir)
        tables = run_pipeline(spark, logdir, out_dir=os.path.join(work, "lake"), sim_id="audit")
        ledger = match_ledger(tables.pop("events"))
        ledger.collect()  # settle AQE on the final plan
        plan = ledger._jdf.queryExecution().executedPlan().toString()
        failures.extend(
            check_plan("plugin:network_latency_ledger", plan, "", NETWORK_LATENCY_LEDGER_EXPECTATIONS)
        )
        for n in sorted(set(PLUGIN_EXPECTATIONS) - set(tables)):
            failures.append(f"plugin table {n!r} gated but not produced")
        for n in sorted(set(tables) - set(PLUGIN_EXPECTATIONS)):
            failures.append(f"plugin table {n!r} has no plan gate — add one")
        for name, exp in PLUGIN_EXPECTATIONS.items():
            if name not in tables:
                continue
            df = tables[name]
            df.collect()  # settle AQE on the final plan
            plan = df._jdf.queryExecution().executedPlan().toString()
            failures.extend(check_plan(f"plugin:{name}", plan, "", exp))
    finally:
        # the build checkpoints shared slices (the network-latency ledger,
        # the timeout family's enriched rows) as persisted RDDs until the
        # ContextCleaner collects them — release them now, with anything
        # else persisted here, so a shared session (pytest) holds no blocks
        # derived from the parquet rmtree deletes below
        release_new_persists(spark, persisted_before)
        shutil.rmtree(work, ignore_errors=True)
    return failures


def audit(spark, sf_dir: str) -> list[str]:
    from cometbft_log_etl_spark.queries import queries

    from cometbft_log_etl_spark.session import persistent_rdd_ids, release_new_persists

    qs = queries()
    failures: list[str] = []
    for name, exp in EXPECTATIONS.items():
        # snapshot/release per query: in-plan barriers (q25's persist,
        # CC localCheckpoints) pin blocks per call and the audit runs
        # 50+ queries in one session
        before = persistent_rdd_ids(spark)
        try:
            df = qs[name](spark, sf_dir)
            # collect THIS df (count() would be a different query plan)
            # so AQE settles on the final plan with codegen compiled
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            analyzed = (
                df._jdf.queryExecution().analyzed().toString()
                if exp.get("max_hint_broadcasts") is not None
                else ""
            )
            failures.extend(check_plan(name, plan, analyzed, exp))
        finally:
            # finally, not tail position: a failing query must not leak
            # its pinned persists into the surviving session
            release_new_persists(spark, before)
    return failures


def _strip_cached_regions(plan: str) -> str:
    """Drop the indented subtrees under InMemoryRelation nodes — the
    one-time cache-build plan that, WITHOUT AQE, reprints verbatim
    under every InMemoryTableScan consumer (AQE prints a compact
    TableCacheQueryStage reference instead). Numeric cost caps count
    the result so they mean the same thing under both settings; the
    InMemoryTableScan lines themselves survive (presence gates rely on
    them). Same region logic as bench.py's _count_exchanges."""
    out = []
    cache_stack: list = []  # indents of enclosing InMemoryRelation nodes
    for line in plan.splitlines():
        indent = len(re.match(r"[\s:+\-*]*", line).group(0))
        while cache_stack and indent <= cache_stack[-1]:
            cache_stack.pop()
        in_cached = bool(cache_stack)
        if "InMemoryRelation" in line:
            cache_stack.append(indent)
            in_cached = True  # the relation header itself is build-side
        if not in_cached:
            out.append(line)
    return "\n".join(out)


def check_plan(name: str, plan: str, analyzed: str, exp: dict) -> list[str]:
    """Evaluate one query's gate expectations against its plan strings.

    Pure (no Spark session) so the gate mechanics themselves are
    unit-testable with synthetic plan text — see
    tests/test_plan_audit.py."""
    failures: list[str] = []
    # The executed (AQE Final) section only: the plan string repeats
    # every operator under "== Initial Plan ==", so presence/count
    # checks against the full string can be satisfied by a stale
    # pre-replan copy of an operator AQE removed at runtime.
    final = plan.split("== Initial Plan ==")[0]
    hint_cap = exp.get("max_hint_broadcasts")
    if hint_cap is not None:
        # Count only BROADCAST hints: ResolvedHint prints its strategy
        # on the same line (e.g. "ResolvedHint (strategy=broadcast)"),
        # and other hint types (repartition, merge) must not trip or
        # mask the cap.
        n_hints = sum(
            1
            for line in analyzed.splitlines()
            if "ResolvedHint" in line and "broadcast" in line.lower()
        )
        if n_hints > hint_cap:
            failures.append(
                f"{name}: {n_hints} explicit broadcast hints (cap {hint_cap}) — "
                "a corpus-derived table is being broadcast"
            )
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    widest = max((len(s.split(",")) for s in scans), default=0)
    # Numeric COST caps count the executed section with cached-subtree
    # REPRINTS removed (round-14, the AQE-on/off sweep lesson): with
    # AQE off, every InMemoryTableScan consumer reprints the full
    # InMemoryRelation child plan — q72's one-scan funnel printed 61
    # FileScans and 125 exchanges for the identical cached plan that
    # counts 1 and 8 under AQE's compact TableCacheQueryStage
    # references. Stripping the cached regions makes the counts mean
    # the same thing under both settings: per-run cost OUTSIDE the
    # one-time cache build. Presence/forbidden gates (contains*,
    # no_smj) still read the unstripped text — a CartesianProduct
    # hiding inside a cache build must trip.
    counted = _strip_cached_regions(final)
    scan_cap = exp.get("max_scans")
    if scan_cap is not None:
        n_scans = len(re.findall(r"FileScan parquet \[", counted))
        if n_scans > scan_cap:
            failures.append(
                f"{name}: {n_scans} parquet scans (cap {scan_cap}) — a source is read repeatedly"
            )
    # Durable alternative to max_scans (round-14, the cc:contract
    # lesson applied to scan counts): the RAW scan count depends on how
    # aggressively exchange/stage reuse dedups identical subtrees —
    # AQE on/off moves it with zero logical-plan change (the two
    # network-latency plugins print 7/5 scans with AQE, 10/10 without,
    # for identical plans). The invariant a 100 TB review cares about
    # is how many DISTINCT projections of the source are read: a
    # regression is a NEW or WIDER scan signature, not a reprint of an
    # existing one. Signatures strip expression ids, so they are
    # session-stable.
    dscan_cap = exp.get("max_distinct_scans")
    if dscan_cap is not None:
        sigs = {
            re.sub(r"#\d+[A-Za-z]*", "#", m)
            for m in re.findall(r"FileScan parquet [^\[]*\[[^\]]*\]", counted)
        }
        if len(sigs) > dscan_cap:
            failures.append(
                f"{name}: {len(sigs)} distinct scan signatures (cap {dscan_cap}) "
                "— a new projection of the source crept in"
            )
    # floors/presence read the EXECUTED section (like contains below):
    # stale Initial-Plan copies must not satisfy them
    n_broadcast = final.count("BroadcastHashJoin")
    # codegen stages print as "WholeStageCodegen (n)" or "*(n)"
    has_codegen = "WholeStageCodegen" in final or re.search(r"\*\(\d+\)", final)
    if exp.get("codegen") and not has_codegen:
        failures.append(f"{name}: no WholeStageCodegen span")
    cap = exp.get("max_scan_cols")
    if cap is not None and widest > cap:
        failures.append(f"{name}: widest scan reads {widest} cols (cap {cap}) — pruning lost")
    if exp.get("pushed_filters"):
        # at least one EXECUTED scan carries a non-empty PushedFilters
        # list (the printed list may be truncated, so only the opening
        # is matched); a stale Initial-Plan copy must not satisfy the
        # presence gate, same rule as `contains`
        if not re.search(r"PushedFilters: \[(?!\])", final):
            failures.append(
                f"{name}: no pushed filters on any scan — the dispatch "
                "predicate is not reaching parquet"
            )
    want_b = exp.get("broadcasts")
    if want_b is not None and n_broadcast < want_b:
        failures.append(f"{name}: {n_broadcast} broadcast joins (expected >= {want_b})")
    # FORBIDDEN operators deliberately scan the FULL plan string,
    # Initial Plan included: these gates assert the plan is broadcast/
    # cartesian-free BY CONSTRUCTION (hints, logical sizes), and an SMJ
    # that only AQE's runtime stats happened to convert away would
    # reappear at production scale — a pre-replan occurrence is the
    # regression, not a false positive.
    if exp.get("no_smj") and "SortMergeJoin" in plan:
        failures.append(f"{name}: SortMergeJoin appeared where broadcast was expected")
    for needle in exp.get("contains", ()):
        # checked against the executed section: an operator present
        # only under "== Initial Plan ==" was re-planned away by AQE
        # — exactly the silent regression the presence gate exists
        # to catch
        if needle not in final:
            failures.append(f"{name}: expected physical operator {needle!r} missing")
    for needle, want_n in exp.get("contains_n", {}).items():
        # a single pre-replan occurrence must not satisfy a >= 2 gate
        got_n = final.count(needle)
        if got_n < want_n:
            failures.append(
                f"{name}: {needle!r} appears {got_n}x (expected >= {want_n})"
            )
    for needle in exp.get("contains_anywhere", ()):
        # presence check against the FULL plan string: an operator that
        # lives inside a CACHED subplan (InMemoryRelation child) prints
        # under the cache's own nested AdaptiveSparkPlan sections, which
        # the first "== Initial Plan ==" split discards — the executed
        # final section only shows the TableCacheQueryStage reference.
        # Weaker than `contains` (a stale Initial-Plan copy satisfies
        # it); use only for operators under a cache barrier.
        if needle not in plan:
            failures.append(f"{name}: expected physical operator {needle!r} missing")
    for needle in exp.get("contains_not", ()):
        if needle in plan:
            failures.append(f"{name}: forbidden physical operator {needle!r} present")
    for needle, cap_n in exp.get("max_n", {}).items():
        # ceiling on the EXECUTED section minus cached reprints: caps
        # the per-run cost that actually executed (e.g. shuffles per CC
        # iteration) — an added join/shuffle trips it even when AQE
        # broadcasts the new side
        got_n = counted.count(needle)
        if got_n > cap_n:
            failures.append(
                f"{name}: {needle!r} appears {got_n}x (cap {cap_n}) — "
                "extra per-run cost crept into the plan"
            )
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from cometbft_log_etl_spark.session import get_spark

    spark = get_spark(app_name="audit_plans")
    failures = audit(spark, sf_dir) + audit_cc(spark, sf_dir) + audit_plugins(spark)
    for f in failures:
        print(f"[BAD] {f}")
    if not failures:
        print(
            f"all {len(EXPECTATIONS)} headline plans, "
            f"{len(CC_EXPECTATIONS)} CC iteration plans and "
            f"{len(PLUGIN_EXPECTATIONS)} plugin fan-out plans (plus the network-latency "
            "ledger) hold their scale properties"
        )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
