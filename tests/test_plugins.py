"""Plugin-analytics tests (P1-P9) over the synthetic 4-node scenario.

Expected values follow the reference's sequential semantics hand-traced
on the fixture (see each plugin module's docstring for the Go source
citations): link latency is 350 ms on node0's links / 80 ms elsewhere;
node2 loses one precommit vote to node3 per height; node1 TrySends one
round-step per height (peer-less → raw-hash fallback tier); node0 emits
3 clustered timeouts on even heights.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cometbft_log_etl_spark.pipeline import etl_events
from cometbft_log_etl_spark.plans.registry import run_plugins

from .fixtures import NODE_IDS, VAL_ADDRS, build_scenario, write_logs

HEIGHTS = 6


@pytest.fixture(scope="module")
def results(spark, tmp_path_factory):
    sc = build_scenario(heights=HEIGHTS)
    d = tmp_path_factory.mktemp("plugin-logs")
    write_logs(sc, str(d))
    events = etl_events(spark, str(d)).cache()
    out = run_plugins(events)
    return out, sc


def test_vote_latencies(results):
    out, sc = results
    df = out["vote_latencies"].cache()
    # every received vote confirms against its earlier send
    assert df.count() == sc.expected["receive_packet_vote"]
    lats = {r.latency_ms for r in df.select("latency_ms").distinct().collect()}
    assert lats == {350, 80}
    # node0's links are the slow ones
    slow = df.filter(F.col("latency_ms") == 350)
    n0 = NODE_IDS[0]
    assert (
        slow.filter((F.col("sender_peer_id") != n0) & (F.col("recipient_peer_id") != n0)).count()
        == 0
    )
    assert df.filter(F.col("status") != "confirmed").count() == 0


def test_block_part_latencies(results):
    out, sc = results
    df = out["block_part_latencies"]
    assert df.count() == sc.expected["receive_packet_block_part"]
    assert df.filter(F.col("part_index") != 0).count() == 0


def test_p2p_messages_all_kinds(results):
    out, sc = results
    df = out["p2p_messages"].cache()
    by_kind = {r.msg_kind: r.n for r in df.groupBy("msg_kind").agg(F.count("*").alias("n")).collect()}
    assert by_kind == {
        "vote": sc.expected["receive_packet_vote"],
        "block_part": sc.expected["receive_packet_block_part"],
        "proposal": sc.expected["receive_packet_proposal"],
        "has_vote": sc.expected["receive_packet_has_vote"],
        # TrySend round-steps never confirm here: the send key holds an
        # empty recipient id (faithful to the reference's key mismatch)
    }
    assert "new_round_step" not in by_kind
    # event carries the receive side's identity
    row = df.filter(F.col("msg_kind") == "vote").limit(1).collect()[0]
    assert row.event_type == "p2p_vote"
    assert row.node_id in NODE_IDS
    assert row.latency_ms in (350, 80)


def test_consensus_steps_filter(results):
    out, sc = results
    df = out["consensus_steps"]
    keep = (
        "entering_new_round",
        "entering_prevote_step",
        "entering_precommit_step",
        "entering_commit_step",
        "committed_block",
        "propose_step",
        "received_proposal",
        "received_complete_proposal_block",
        "scheduled_timeout",
    )
    assert df.count() == sum(sc.expected[k] for k in keep)
    assert df.filter(F.col("event_type").startswith("send_")).count() == 0


def test_consensus_timing_sessions(results):
    out, _ = results
    df = out["consensus_timing"].cache()
    assert df.count() == 4 * HEIGHTS  # one session per (node, height, round=0)
    assert df.filter(F.col("round") != 0).count() == 0
    row = df.filter((F.col("node_id") == NODE_IDS[3]) & (F.col("height") == 2)).collect()[0]
    steps = set(row.step_transitions.keys())
    assert steps == {
        "new_round",
        "propose",
        "entering_prevote",
        "entering_precommit",
        "entering_commit",
        "committed_block",
    }
    assert set(row.step_durations_ms.keys()) == {
        "new_round_to_propose",
        "propose_to_entering_prevote",
        "entering_prevote_to_entering_precommit",
        "entering_precommit_to_entering_commit",
        "entering_commit_to_committed_block",
    }
    # end = committed_block ts; all sessions complete in the fixture
    assert df.filter(F.col("total_round_time_ms") <= 0).count() == 0
    assert row.end_time == row.step_transitions["committed_block"]


def test_validator_participation(results):
    out, _ = results
    df = out["validator_participation"].cache()
    # voting rows (lowercase vote addresses) + seeded rows for each
    # node's own (uppercase) validator that never matches a vote key —
    # the reference's case-sensitive map keys produce exactly this split
    voting = df.filter(F.col("validator_address") == VAL_ADDRS[1].lower())
    assert voting.count() == HEIGHTS
    r = voting.filter(F.col("height") == 3).collect()[0]
    assert r.prevote_count == 3 and r.precommit_count == 3
    assert r.participated_prevote and r.participated_precommit
    assert r.on_time_prevote and r.on_time_precommit
    assert r.avg_prevote_time_ms > 0
    assert len(r.prevote_latency_ms) == 3
    seeded = df.filter(F.col("validator_address") == VAL_ADDRS[1])
    assert seeded.count() == HEIGHTS
    assert seeded.filter(F.col("prevote_count") != 0).count() == 0


def test_timeout_events(results):
    out, _ = results
    df = out["timeout_analysis_events"].cache()
    assert df.count() == 9  # 3 per even height (2, 4, 6)
    assert df.filter(F.col("node_id") != NODE_IDS[0]).count() == 0
    # third timeout of each height sees 2 prior → recovery
    assert df.filter(F.col("is_recovery_timeout")).count() == 3
    assert df.filter(F.col("step_start_time").isNull()).count() == 0
    assert df.filter(F.col("time_in_step_ms") <= 0).count() == 0
    durs = {r.duration_ms for r in df.select("duration_ms").distinct().collect()}
    assert durs == {3000, 1000, 800}


def test_timeout_summary(results):
    out, _ = results
    row = out["timeout_analysis_summary"].collect()[0]
    assert row.node_id == NODE_IDS[0]
    assert row.total_timeouts == 9
    assert row.timeouts_by_step == {"propose": 3, "prevote": 3, "precommit": 3}
    assert row.timeouts_by_type == row.timeouts_by_step
    assert row.total_rounds == 4 * HEIGHTS
    assert row.avg_timeouts_per_round == pytest.approx(9 / 24)
    assert row.max_timeouts_in_round == 3
    assert row.rounds_with_timeouts == 3
    assert row.min_timeout_duration_ms == 800
    assert row.max_timeout_duration_ms == 3000
    assert row.avg_timeout_duration_ms == 1600
    assert row.recovery_timeouts == 3
    assert row.height_range == "2-6"


def test_timeout_clusters(results):
    out, _ = results
    rows = out["timeout_analysis_clusters"].collect()
    # all 9 timeouts chain: gaps << 30 s, height jumps of 2 <= 5
    assert len(rows) == 1
    c = rows[0]
    assert c.timeout_count == 9
    assert (c.start_height, c.end_height) == (2, 6)
    assert c.steps == ["propose", "prevote", "precommit"] * 3
    assert c.duration_ms > 0


def test_network_latency_measurements(results):
    out, _ = results
    df = out["network_latency_measurements"].cache()
    # constant 80 ms latency on a fast pair: degenerate histogram
    fast = df.filter(
        (F.col("node_pair_key") == f"{min(NODE_IDS[1], NODE_IDS[2])}:{max(NODE_IDS[1], NODE_IDS[2])}")
        & (F.col("message_type") == "vote")
    ).collect()[0]
    assert fast.min_latency_ms == fast.max_latency_ms == fast.median_latency_ms == 80
    assert fast.mean_latency_ms == 80 and fast.p95_latency_ms == 80
    # strict-< bucketing puts every equal value at/above p99
    assert fast.below_p50_count == 0 and fast.above_p99_count == fast["count"]
    types = {r.message_type for r in df.select("message_type").distinct().collect()}
    assert types == {"vote", "proposal", "block_part", "has_vote", "new_round_step"}
    # TrySend tier-2 matches landed as new_round_step measurements
    nrs = df.filter(F.col("message_type") == "new_round_step").collect()
    assert len(nrs) == 1 and nrs[0]["count"] == HEIGHTS and nrs[0].median_latency_ms == 80


def test_network_latency_summary_and_rollup(results):
    out, _ = results
    summary = out["network_latency_nodepair_summary"].cache()
    meas = out["network_latency_measurements"]
    pairs = summary.count()
    assert pairs == 6  # C(4,2) node pairs
    row = summary.limit(1).collect()[0]
    per_type_total = sum(v["count"] for v in row.message_types.values())
    assert row["count"] == per_type_total  # overall == union of the types


def test_network_latency_node_and_global_stats(results):
    out, sc = results
    stats = {r.node_id: r for r in out["network_latency_node_stats"].collect()}
    assert set(stats) == set(NODE_IDS)
    # node2 loses one precommit vote per height
    assert stats[NODE_IDS[2]].unmatched_sends == HEIGHTS
    assert sum(s.unmatched_sends for s in stats.values()) == HEIGHTS
    assert all(s.unmatched_receives == 0 for s in stats.values())
    # TrySend contributes the "" peer entry, faithful to addPeerToNode
    assert "" in stats[NODE_IDS[1]].connected_peers
    g = out["network_latency_global_stats"].collect()[0]
    assert g.total_unmatched_sends == HEIGHTS
    assert g.total_unmatched_receives == 0
    total_sends = sum(sc.expected[k] for k in sc.expected if k.startswith("send_"))
    total_recvs = sum(sc.expected[k] for k in sc.expected if k.startswith("receive_packet_"))
    assert g.total_messages == total_sends + total_recvs


def _network_latency_tables(spark, sc, log_dir) -> dict:
    write_logs(sc, str(log_dir))
    events = etl_events(spark, str(log_dir), materialize=True)
    return run_plugins(events, enabled=["network-latency"])


def _duplicate_one_send(sc) -> tuple[str, str]:
    """Append a second copy of one tier-1 send line and of its receive
    line; returns (sender node id, receiver node id)."""
    import base64
    import json

    def logged(node: int, msg: str):
        for t, line in sc.lines[node]:
            obj = json.loads(line) if line.startswith("{") else {}
            if obj.get("_msg") == msg:
                yield t, line, obj

    sender = 0
    t, line, send = next(logged(sender, "Send"))
    receiver = NODE_IDS.index(send["peer"].split("@")[0])
    rt, rline, _ = next(
        (rt, rline, recv)
        for rt, rline, recv in logged(receiver, "Received bytes")
        if recv["peer"].startswith(NODE_IDS[sender])
        and base64.b64decode(recv["msgBytes"]) == bytes.fromhex(send["msgBytes"])
    )
    sc.lines[sender].append((t, line))
    sc.lines[receiver].append((rt, rline))
    return NODE_IDS[sender], NODE_IDS[receiver]


def test_network_latency_duplicates_debug(spark, tmp_path):
    """A repeated send and its repeated receive make one duplicate-traffic
    row, and every other network-latency table moves by exactly one pair."""
    base = _network_latency_tables(spark, build_scenario(heights=2), tmp_path / "base")
    sc = build_scenario(heights=2)
    sender, receiver = _duplicate_one_send(sc)
    dup = _network_latency_tables(spark, sc, tmp_path / "dup")

    assert base["network_latency_duplicates_debug"].count() == 0
    rows = dup["network_latency_duplicates_debug"].collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.sender, r.receiver) == (sender, receiver)
    assert (r.send_count, r.receive_count, r.match_count) == (2, 2, 2)

    def totals(out: dict) -> dict:
        sums = {
            "measurements": ("network_latency_measurements", ["count"]),
            "summary": ("network_latency_nodepair_summary", ["count"]),
            "nodes": (
                "network_latency_node_stats",
                ["total_sends", "total_receives", "unmatched_sends", "unmatched_receives"],
            ),
            "global": (
                "network_latency_global_stats",
                ["total_unmatched_sends", "total_unmatched_receives", "total_messages"],
            ),
        }
        return {
            k: list(out[t].agg(*[F.sum(c) for c in cols]).collect()[0])
            for k, (t, cols) in sums.items()
        }

    before, after = totals(base), totals(dup)
    assert after["measurements"] == [before["measurements"][0] + 1]
    assert after["summary"] == [before["summary"][0] + 1]
    b = before["nodes"]
    assert after["nodes"] == [b[0] + 1, b[1] + 1, b[2], b[3]]
    g = before["global"]
    assert after["global"] == [g[0], g[1], g[2] + 2]


def test_network_latency_leaves_no_cache_entry(spark, tmp_path):
    """Building the plugin and collecting its five tables adds no
    CacheManager entry: the match ledger is checkpointed, not persisted."""
    from cometbft_log_etl_spark import session

    tracked = len(session._TRACKED_PERSISTS)
    tables = _network_latency_tables(spark, build_scenario(heights=2), tmp_path)
    for df in tables.values():
        df.collect()
    assert len(session._TRACKED_PERSISTS) == tracked
    for name, df in tables.items():
        assert "InMemoryRelation" not in df._jdf.queryExecution().withCachedData().toString(), name


def test_tracer_events_union(results):
    out, sc = results
    df = out["tracer_events"]
    consensus_n = out["consensus_steps"].count()
    p2p_n = out["p2p_messages"].count()
    assert df.count() == consensus_n + p2p_n
    ts = [r.timestamp for r in df.select("timestamp").limit(2000).collect()]
    assert ts == sorted(ts)


def test_unknown_plugin_skipped(spark, tmp_path_factory):
    """Enabled-but-unregistered plugin names warn and skip, never raise
    (reference pkg/pluginloader/loader.go:38-45 premium tolerance)."""
    sc = build_scenario(heights=2)
    d = tmp_path_factory.mktemp("tolerance-logs")
    write_logs(sc, str(d))
    events = etl_events(spark, str(d))
    out = run_plugins(events, enabled=["vote-latency", "anomaly-detection"])
    assert set(out) == {"vote_latencies"}
