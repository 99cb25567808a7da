"""Unit contract for bench.py's plan-fingerprint normalization
(fingerprint v3, round 9): session-order independence AND
distinctness of same-named lambda variables."""

from __future__ import annotations

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _normalize_plan


def test_lambda_counters_are_session_order_independent():
    """The same plan compiled in two sessions picks up different
    session-global lambda counters — normalization must erase the
    difference (the round-8 v2 motivation)."""
    a = "Project [transform(arr#12, lambdafunction(x_4#88, x_4#88))]"
    b = "Project [transform(arr#97, lambdafunction(x_31#15, x_31#15))]"
    assert _normalize_plan(a) == _normalize_plan(b)


def test_distinct_lambda_vars_stay_distinct():
    """Two plans differing only in WHICH of several same-named lambda
    variables an inner expression references must NOT fingerprint
    identically (the v2 collapse bug, round-8 advice)."""
    outer_refs_outer = (
        "transform(a#1, lambdafunction(transform(b#2,"
        " lambdafunction(x_1# + x_1#, x_2#)), x_1#))"
    )
    outer_refs_inner = (
        "transform(a#1, lambdafunction(transform(b#2,"
        " lambdafunction(x_2# + x_2#, x_2#)), x_1#))"
    )
    assert _normalize_plan(outer_refs_outer) != _normalize_plan(outer_refs_inner)


def test_renumbering_is_consistent_within_a_plan():
    """Every occurrence of one variable maps to one ordinal."""
    plan = "f(x_7#, y_3#, x_7#, y_3#, x_7#)"
    assert _normalize_plan(plan) == "<root> > f(x_0#, y_1#, x_0#, y_1#, x_0#)"


def test_underscore_prefixed_columns_untouched():
    """Real columns like _t_0# carry a leading underscore and must not
    match the bare-identifier lambda pattern's start."""
    plan = "Project [_t_0# AS out#]"
    # the token _t_0# starts with '_' so the lookbehind rejects a match
    # beginning inside it; 't_0#' inside '_t_0#' is preceded by '_'
    assert _normalize_plan(plan) == "<root> > Project [_t_0# AS out#]"


def test_exchange_count_dedups_cached_subplan_reprints():
    from bench import _count_exchanges

    # cache-free: plan_ids all distinct — same as the raw count
    free = (
        "Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS, [plan_id=3]\n"
        "Exchange hashpartitioning(b#2, 8), ENSURE_REQUIREMENTS, [plan_id=7]\n"
    )
    assert _count_exchanges(free) == 2
    # cached: the same exchange reprinted under two InMemoryTableScans
    cached = free + (
        "InMemoryTableScan\n"
        "  Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS, [plan_id=3]\n"
        "InMemoryTableScan\n"
        "  Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS, [plan_id=3]\n"
    )
    assert _count_exchanges(cached) == 2
    # no plan_ids at all (old-style string): raw fallback
    assert _count_exchanges("Exchange\nExchange\n") == 2


def test_exchange_count_dedups_idless_reprints_under_cache():
    """round-10 advice: an id-less Exchange line reprinted under every
    InMemoryTableScan consumer must count once, not once per consumer —
    but ONLY when the plan actually has a cached subtree; cache-free
    plans keep the raw count (two genuinely identical exchanges in a
    self-joined plan stay 2)."""
    from bench import _count_exchanges

    cached = (
        "InMemoryTableScan\n"
        "  +- Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS\n"
        "InMemoryTableScan\n"
        "     +- Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS\n"
    )
    assert _count_exchanges(cached) == 1
    # same two id-less lines with no cache marker: raw count preserved
    free = (
        "+- Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS\n"
        "+- Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS\n"
    )
    assert _count_exchanges(free) == 2
    # mixed under cache: id'd lines dedupe by id, id-less by text
    mixed = (
        "InMemoryRelation\n"
        "  +- Exchange rangepartitioning(b#2, 8), [plan_id=5]\n"
        "  +- Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS\n"
        "     +- Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS\n"
    )
    assert _count_exchanges(mixed) == 2


def test_exchange_count_dedup_is_scoped_to_the_cached_region():
    """round-11 review: two GENUINELY distinct exchanges with identical
    line text OUTSIDE the cached subtree (a Union repartitioning the
    same relation twice) must stay 2 even when an InMemoryTableScan
    exists elsewhere in the plan — the id-less dedup applies only to
    lines indented under an InMemory* node."""
    from bench import _count_exchanges

    plan = (
        "Union\n"
        ":- Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS\n"
        ":- Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS\n"
        "+- InMemoryTableScan\n"
        "      +- Exchange hashpartitioning(b#2, 8), ENSURE_REQUIREMENTS\n"
        "      +- Exchange hashpartitioning(b#2, 8), ENSURE_REQUIREMENTS\n"
    )
    assert _count_exchanges(plan) == 3  # 2 raw outside + 1 deduped inside
    # leaving the cached region ends the dedup scope
    after = plan + "+- Exchange hashpartitioning(b#2, 8), ENSURE_REQUIREMENTS\n"
    assert _count_exchanges(after) == 4


def test_fingerprint_v4_is_print_order_independent():
    """round-11: AQE prints materialized broadcast subtrees in a
    timing-dependent position, and FileScan metadata truncates at a
    character budget that shifts with raw lambda-counter digit widths —
    the SAME plan produced three different v3 fingerprints. v4
    normalizes per line, elides the truncatable DataFilters field, and
    hashes the SORTED line multiset."""
    from bench import _normalize_plan

    a = (
        "Sort [s#0]\n"
        ":- Project [x#1]\n"
        ":  +- BroadcastExchange\n"
        ":     +- FileScan parquet [v#2] Batched: true, DataFilters: "
        "[NOT exists(e#3, lambdafunction(isnan(lambda x_4#5)..., "
        "Format: Parquet, PushedFilters: [IsNotNull(v)]\n"
        "+- HashAggregate [k#4]\n"
    )
    b = (  # same TREE, sections printed in the other order (the AQE
        #     reprint shape: every line keeps its parent), different
        #     metadata truncation point
        "Sort [s#9]\n"
        ":- HashAggregate [k#8]\n"
        "+- Project [x#6]\n"
        "   +- BroadcastExchange\n"
        "      +- FileScan parquet [v#7] Batched: true, DataFilters: "
        "[NOT exists(e#5, lambdafunction(isnan(lambda x_1234#3)) AND..., "
        "Format: Parquet, PushedFilters: [IsNotNull(v)]\n"
    )
    assert _normalize_plan(a) == _normalize_plan(b)
    # an operator CHANGE still moves the fingerprint
    c = a.replace("BroadcastExchange", "Exchange hashpartitioning(v#2, 8)")
    assert _normalize_plan(c) != _normalize_plan(a)
    # and so does a pure REORDERING of the tree (lost filter pushdown):
    # the parent-edge tags catch what a plain line multiset missed
    push = (
        "Exchange hashpartitioning(a#1, 8)\n"
        "+- Filter (a#1 > 5)\n"
        "   +- FileScan parquet [a#1]\n"
    )
    lost = (
        "Filter (a#1 > 5)\n"
        "+- Exchange hashpartitioning(a#1, 8)\n"
        "   +- FileScan parquet [a#1]\n"
    )
    assert _normalize_plan(push) != _normalize_plan(lost)


def test_cpu_tree_seconds_counts_own_work():
    """The steal-immune CPU meter: deltas over a busy window are
    positive and monotone, and an unknown pid reads zero (best-effort
    contract — the bench must never crash on a vanished process)."""
    import os

    from tools.bench_etl import _cpu_tree_seconds

    pid = os.getpid()
    c0 = _cpu_tree_seconds(pid)
    # ~100ms of real CPU work
    x = 0
    for i in range(3_000_000):
        x += i * i
    c1 = _cpu_tree_seconds(pid)
    assert c1 >= c0
    assert c1 - c0 < 60  # sane scale (seconds, not jiffies)
    assert _cpu_tree_seconds(2**31 - 7) == 0.0


def test_removed_env_knobs_are_ignored_at_import():
    """The CC local-solve ceiling and the canary band are plain
    constants: a malformed value in the env variables that used to set
    them must not break importing the catalog or bench."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_CC_LOCAL_MAX_EDGES="abc",
        SPARK_GRAFT_CANARY_BAND="abc",
    )
    code = (
        "from cometbft_log_etl_spark.queries import catalog\n"
        "import bench\n"
        "from cometbft_log_etl_spark.queries import neardup\n"
        "assert len(catalog()) > 100\n"
        "assert neardup._CC_LOCAL_MAX_EDGES == 200_000\n"
        "assert bench._CANARY_BAND_SEC == 0.12\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env, capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr


def test_canary_band_classifier(monkeypatch):
    """The quiet-band rule splits the observed bimodal canary history
    (quiet hosts 0.05-0.10s, noisy windows >= 0.14s) with margin.

    The band is the plain constant ``bench._CANARY_BAND_SEC`` (0.12);
    it is patched here so the rule is also checked against a wider
    band."""
    import bench

    monkeypatch.setattr(bench, "_CANARY_BAND_SEC", 0.12)
    for quiet in (0.051, 0.088, 0.096, 0.119):
        assert bench._canary_quiet({"min_sec": quiet})
    for noisy in (0.141, 0.25, 1.4):
        assert not bench._canary_quiet({"min_sec": noisy})
    # the rule follows whatever band the constant holds
    monkeypatch.setattr(bench, "_CANARY_BAND_SEC", 0.30)
    assert bench._canary_quiet({"min_sec": 0.25})
    assert not bench._canary_quiet({"min_sec": 0.31})


def test_bench_artifact_round_trips(tmp_path, monkeypatch):
    """Round-14 verdict #5: bench.py writes its emitted JSON line to an
    in-repo, gitignored bench_latest.json so PERF always has a parseable
    prev column even if the driver's stdout tail cap ever truncates
    BENCH again. The name is fixed (committed BENCH_r<NN>.json files do
    not change it), and the writer must round-trip the exact line (one
    line, same contract) and never raise."""
    import json

    import bench

    # a synthetic repo root with driver artifacts in it
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    (tmp_path / "BENCH_r03.json").write_text("{}")
    (tmp_path / "BENCH_r14.json").write_text("{}")
    assert bench._bench_artifact_path() == str(tmp_path / "bench_latest.json")
    line = json.dumps({"metric": "headline_query_wall_time", "queries": {"q01": 0.2},
                       "queries_cpu_sec": {"q01": 1.7}, "value": 0.2, "sf": 0.1})
    path = bench._write_artifact(line)
    assert path == str(tmp_path / "bench_latest.json")
    with open(path) as f:
        content = f.read()
    assert content == line + "\n"
    assert json.loads(content.splitlines()[0])["queries"] == {"q01": 0.2}
    # the real repo root gets the same fixed name
    monkeypatch.undo()
    assert bench._bench_artifact_path().endswith("/bench_latest.json")
