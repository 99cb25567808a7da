"""P7: network-latency — raw-bytes FIFO matching + latency histograms.

Reference: ossplugins/network-latency/processor.go (856 LoC). Five
result tables:

- network_latency_measurements: per (normalized node pair, message_type)
  histogram (calculateStatistics :499-556);
- network_latency_nodepair_summary: per pair — an "overall" histogram
  across message types plus the per-type map (:559-643);
- network_latency_node_stats: per node — sends/receives, connected
  peers, unmatched counts (:399-447,648-681);
- network_latency_global_stats: one row of unmatched totals (:719-732);
- network_latency_duplicates_debug: per-key traffic where send_count>1
  or receive_count>1 (:800-818).

Matching (the FIFO multi-match join, SURVEY §2.6 P7a):
- tier 1: composite key (sender, receiver, sha256(raw_bytes))
  (getCompositeKey :697-707) — FIFO pairing = row_number per key on
  each side + ONE full outer join on (key, seq), whose rows are the
  matched pairs, the sends left over and the receives left over.
  Out-of-order arrival needs no special case in batch; latency is
  signed (recv − send) just as the reference's out-of-order path
  produces (:163-166).
- tier 2: sends whose peer is unknown (TrySend → empty recipient id,
  convereter.go:523-530) are keyed by raw hash only; receives left
  unmatched by tier 1 retry against them in a second full outer join
  (rawHashFallbackMatch :295-328).
- leftovers on either side are the unmatched counts.

``match_ledger`` is that match as one frame, the port of the
processor's single match state: one row per outcome (pair, unmatched
send, unmatched receive), from which all five tables are derived.

Self-receives (node == source peer) are dropped (:222-225); self-pairs
never record latency (:331-334). recordLatency's timestamp argument is
the RECEIVE time on every path, so first_seen/last_seen are receive-time
bounds.

Scale notes: the match shuffles once per tier on the composite key
(dominated by sha2 values — uniformly distributed, no skew). The ledger
is localCheckpoint-ed once, eagerly, while the plugin is built, so the
five tables plan over its rows and never re-run the match: histograms
shuffle once on (pair, message_type), the pair rollup reuses the
matched rows, and the per-node / global / duplicate stats are
partial-agg-friendly groupBys over one per-event view of the ledger
(its send-side rows unioned with its receive-side rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._matching import fifo_rank, latency_ms
from ._stats import go_latency_histogram
from .registry import register_plugin

# The 9 send / 9 receive kinds handled (Process :82-119); new_valid_block
# is NOT among them (the reference matches it only in p2p-messages).
MATCHED_KINDS = (
    "vote",
    "proposal",
    "block_part",
    "new_round_step",
    "has_vote",
    "vote_set_maj23",
    "vote_set_bits",
    "proposal_pol",
    "has_proposal_block_part",
)


def _sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    base = events.filter(F.col("msg_kind").isin(*MATCHED_KINDS)).withColumn(
        "raw_hash", F.sha2(F.col("msg_bytes"), 256)
    )
    is_send = ~F.col("event_type").startswith("receive_packet_")
    sends = base.filter(is_send).select(
        F.col("node_id").alias("send_node"),
        F.col("validator_address").alias("send_validator"),
        F.coalesce(F.col("recipient_peer_id"), F.lit("")).alias("receiver_peer"),
        F.col("msg_kind").alias("message_type"),
        "raw_hash",
        F.col("timestamp").alias("sent_time"),
    )
    recvs = (
        base.filter(~is_send)
        .filter(
            F.col("source_peer_id").isNotNull()
            & (F.col("source_peer_id") != "")
            & (F.col("source_peer_id") != F.col("node_id"))  # self-receive drop :222-225
        )
        .select(
            F.col("node_id").alias("recv_node"),
            F.col("validator_address").alias("recv_validator"),
            F.col("source_peer_id").alias("sender_peer"),
            F.col("msg_kind").alias("message_type"),
            "raw_hash",
            F.col("timestamp").alias("received_time"),
        )
    )
    return sends, recvs


# A ledger row's send side and receive side. The side a row lacks is
# NULL; event timestamps never are, so a NULL time marks a missing side.
_SEND = ["send_node", "send_validator", "receiver_peer", "sent_time"]
_RECV = ["recv_node", "recv_validator", "sender_peer", "received_time"]


def _tier(
    sends: DataFrame, recvs: DataFrame, send_key: list[str], recv_key: list[str], tier: int
) -> DataFrame:
    """One FIFO tier: rank each side per key by time, then ONE full outer
    join on (key, match_seq). Each output row is a matched pair, a send
    left over or a receive left over, in ledger columns."""
    s = fifo_rank(sends, send_key, "sent_time")
    recv_names = {"message_type": "_r_type", "raw_hash": "_r_hash", "match_seq": "_r_seq"}
    r = fifo_rank(recvs, recv_key, "received_time").withColumnsRenamed(recv_names)
    on = [
        F.col(a) == F.col(recv_names.get(b, b))
        for a, b in zip([*send_key, "match_seq"], [*recv_key, "match_seq"])
    ]
    paired = F.col("sent_time").isNotNull() & F.col("received_time").isNotNull()
    return s.join(r, on, "full").select(
        *_SEND,
        *_RECV,
        # msg_kind is decoded from msg_bytes, so one hash has one type
        F.coalesce("message_type", "_r_type").alias("message_type"),
        F.coalesce("raw_hash", "_r_hash").alias("raw_hash"),
        F.when(paired, F.lit(tier)).alias("tier"),
    )


def match_ledger(events: DataFrame) -> DataFrame:
    """The two-tier FIFO match as one frame: one row per match outcome —
    a matched pair (``tier`` 1 or 2), an unmatched send or an unmatched
    receive (``tier`` NULL). Rows keep the send's own ``receiver_peer``
    and the receive's own ``sender_peer``, so every eligible send and
    every eligible receive appears in exactly one row."""
    sends, recvs = _sides(events)
    t1 = _tier(
        sends.filter(F.col("receiver_peer") != ""),
        recvs,
        ["send_node", "receiver_peer", "raw_hash"],
        ["sender_peer", "recv_node", "raw_hash"],
        1,
    )
    # tier 2: raw-hash-only fallback (TrySend sends vs tier-1 leftover
    # receives); keyed sends get no second tier
    t2 = _tier(
        sends.filter(F.col("receiver_peer") == ""),
        t1.filter(F.col("sent_time").isNull()).select(*_RECV, "message_type", "raw_hash"),
        ["raw_hash"],
        ["raw_hash"],
        2,
    )
    return (
        t1.filter(F.col("sent_time").isNotNull())
        .unionByName(t2)
        .withColumn("latency_ms", latency_ms(F.col("received_time"), F.col("sent_time")))
    )


def _per_event(ledger: DataFrame) -> DataFrame:
    """The ledger's send-side rows unioned with its receive-side rows:
    one row per eligible send or receive, under its composite key
    (sender, receiver, raw_hash) and with ``unmatched`` set when its
    ledger row holds no pair."""

    def side(ts: str, sender: str, receiver: str, validator: str, is_send: bool) -> DataFrame:
        return ledger.filter(F.col(ts).isNotNull()).select(
            F.col(sender).alias("sender"),
            F.col(receiver).alias("receiver"),
            F.col(validator).alias("validator_address"),
            "message_type",
            "raw_hash",
            F.col(ts).alias("ts"),
            F.lit(is_send).alias("is_send"),
            F.col("tier").isNull().alias("unmatched"),
        )

    return side("sent_time", "send_node", "receiver_peer", "send_validator", True).unionByName(
        side("received_time", "sender_peer", "recv_node", "recv_validator", False)
    )


def _with_pair(matched: DataFrame) -> DataFrame:
    """Normalized node pair (lexicographic, :385-390); nodeA = receiver,
    nodeB = sender (recordLatency call sites :173,291,325)."""
    a_first = F.col("recv_node") <= F.col("send_node")
    return (
        matched.filter(F.col("recv_node") != F.col("send_node"))
        .withColumn("node1_id", F.when(a_first, F.col("recv_node")).otherwise(F.col("send_node")))
        .withColumn("node2_id", F.when(a_first, F.col("send_node")).otherwise(F.col("recv_node")))
        .withColumn(
            "node1_validator",
            F.when(a_first, F.col("recv_validator")).otherwise(F.col("send_validator")),
        )
        .withColumn(
            "node2_validator",
            F.when(a_first, F.col("send_validator")).otherwise(F.col("recv_validator")),
        )
        .withColumn("node_pair_key", F.concat_ws(":", "node1_id", "node2_id"))
    )


@register_plugin("network-latency")
def network_latency(events: DataFrame) -> dict[str, DataFrame]:
    # Every table is a shallow aggregate of the one ledger. It is
    # checkpointed eagerly, here in the build: all five tables then read
    # its rows without re-planning or re-running the match, and the
    # blocks go with the frame (ContextCleaner) instead of staying in
    # the session's CacheManager the way a persist() would.
    ledger = match_ledger(events).localCheckpoint(eager=True)
    paired = _with_pair(ledger.filter(F.col("tier").isNotNull())).withColumn(
        "timestamp", F.col("received_time")
    )

    meta = ["node_pair_key", "node1_id", "node2_id", "node1_validator", "node2_validator"]
    measurements = go_latency_histogram(
        paired,
        group_cols=["node_pair_key", "message_type"],
        extra_first_cols=["node1_id", "node2_id", "node1_validator", "node2_validator"],
    ).select(
        *meta, "message_type", "count", "min_latency_ms", "max_latency_ms",
        "mean_latency_ms", "median_latency_ms", "p95_latency_ms", "p99_latency_ms",
        "below_p50_count", "p50_to_p95_count", "p95_to_p99_count", "above_p99_count",
        "first_seen", "last_seen",
    )

    # Pair rollup: the same histogram over ALL the pair's latencies
    # (message_type="overall", createOverallStatsForPair :598-645) plus
    # the per-type histogram map.
    overall = go_latency_histogram(
        paired,
        group_cols=["node_pair_key"],
        extra_first_cols=["node1_id", "node2_id", "node1_validator", "node2_validator"],
    ).withColumn("message_type", F.lit("overall"))
    per_type_map = measurements.groupBy("node_pair_key").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("message_type"),
                    F.struct(
                        "count", "min_latency_ms", "max_latency_ms", "mean_latency_ms",
                        "median_latency_ms", "p95_latency_ms", "p99_latency_ms",
                        "below_p50_count", "p50_to_p95_count", "p95_to_p99_count",
                        "above_p99_count", "first_seen", "last_seen",
                    ),
                )
            )
        ).alias("message_types")
    )
    summary = overall.join(per_type_map, "node_pair_key").select(
        *meta, "message_types", "count", "min_latency_ms", "max_latency_ms",
        "mean_latency_ms", "median_latency_ms", "p95_latency_ms", "p99_latency_ms",
        "below_p50_count", "p50_to_p95_count", "p95_to_p99_count", "above_p99_count",
        "first_seen", "last_seen",
    )

    # Per-node stats (updateNodeStats :399-425): every raw-eligible send/
    # receive counts; connected peers collect the raw peer id — including
    # the empty TrySend peer, mirroring addPeerToNode's "" entry (:427-437).
    per_event = _per_event(ledger)
    is_send, unmatched = F.col("is_send"), F.col("unmatched")
    node = F.when(is_send, F.col("sender")).otherwise(F.col("receiver"))
    peer = F.when(is_send, F.col("receiver")).otherwise(F.col("sender"))
    node_stats = (
        per_event.groupBy(node.alias("node_id"))
        .agg(
            F.first("validator_address").alias("validator_address"),
            F.count_if(is_send).cast("int").alias("total_sends"),
            F.count_if(~is_send).cast("int").alias("total_receives"),
            F.array_sort(F.collect_set(peer)).alias("connected_peers"),
            F.count_if(is_send & unmatched).cast("int").alias("unmatched_sends"),
            F.count_if(~is_send & unmatched).cast("int").alias("unmatched_receives"),
        )
        .withColumn("peer_count", F.size("connected_peers"))
    )

    # Global unmatched stats (createUnmatchedStats :719-732): the per-node
    # counts rolled up.
    global_stats = node_stats.agg(
        F.sum("unmatched_sends").cast("int").alias("total_unmatched_sends"),
        F.sum("unmatched_receives").cast("int").alias("total_unmatched_receives"),
        F.sum(F.col("total_sends") + F.col("total_receives")).cast("int").alias("total_messages"),
    ).filter((F.col("total_unmatched_sends") > 0) | (F.col("total_unmatched_receives") > 0))

    # Duplicate-traffic diagnostics (:800-818): per composite key (and
    # per raw hash for peer-less sends), counts with send>1 or recv>1.
    match_counts = paired.groupBy(
        F.col("send_node").alias("sender"),
        F.col("recv_node").alias("receiver"),
        "raw_hash",
    ).agg(F.count(F.lit(1)).cast("int").alias("match_count"))
    duplicates = (
        per_event.groupBy("sender", "receiver", "raw_hash")
        .agg(
            F.first("message_type").alias("message_type"),
            F.count_if(is_send).cast("int").alias("send_count"),
            F.count_if(~is_send).cast("int").alias("receive_count"),
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
        )
        .filter((F.col("send_count") > 1) | (F.col("receive_count") > 1))
        .join(match_counts, ["sender", "receiver", "raw_hash"], "left")
        .withColumn("match_count", F.coalesce("match_count", F.lit(0)))
    )

    return {
        "network_latency_measurements": measurements,
        "network_latency_nodepair_summary": summary,
        "network_latency_node_stats": node_stats,
        "network_latency_global_stats": global_stats,
        "network_latency_duplicates_debug": duplicates,
    }
