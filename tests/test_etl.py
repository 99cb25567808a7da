"""End-to-end ETL tests on the synthetic 4-node scenario: parse →
normalize → metadata enrichment, asserting exact per-type event counts
(the generator tracks what the reference's pipeline would emit)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cometbft_log_etl_spark.operators.metadata import MissingIdentityError, file_identities
from cometbft_log_etl_spark.pipeline import etl_events
from cometbft_log_etl_spark.sources.logs import read_raw_events

from .fixtures import NODE_IDS, VAL_ADDRS, build_scenario, write_logs


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    sc = build_scenario(heights=6)
    d = tmp_path_factory.mktemp("cometbft-logs")
    write_logs(sc, str(d))
    return str(d), sc


@pytest.fixture(scope="module")
def events(spark, log_dir):
    d, sc = log_dir
    df = etl_events(spark, d).cache()
    df.count()
    return df, sc


def test_event_type_counts_exact(events):
    df, sc = events
    got = {r.event_type: r.n for r in df.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert got == dict(sc.expected)


def test_no_propose_entering_events(events):
    df, _ = events
    assert df.filter(F.col("event_type") == "entering_propose_step").count() == 0


def test_wait_steps_collapse(events):
    df, _ = events
    # fixture writes "Entering prevote wait step" lines; the reference's
    # first-match quirk maps them to entering_prevote_step
    assert df.filter(F.col("event_type") == "entering_prevote_wait_step").count() == 0


def test_metadata_attached(events):
    df, _ = events
    assert df.filter(F.col("node_id").isNull()).count() == 0
    pairs = {
        (r.node_id, r.validator_address)
        for r in df.select("node_id", "validator_address").distinct().collect()
    }
    assert pairs == set(zip(NODE_IDS, VAL_ADDRS))


def test_send_vote_payload_decoded(events):
    df, _ = events
    votes = df.filter(F.col("event_type") == "send_vote")
    row = votes.filter(F.col("validator_index") == 2).limit(1).collect()[0]
    assert row.vote_type in ("prevote", "precommit")
    assert row.msg_kind == "vote"
    assert row.channel == 0x22
    assert row.channel_name == "vote"
    assert row.recipient_peer_id in NODE_IDS
    assert row.validator_address_fp == VAL_ADDRS[2].lower()


def test_receive_has_source_info(events):
    df, _ = events
    recv = df.filter(F.col("event_type") == "receive_packet_vote").limit(1).collect()[0]
    assert recv.source_peer_id in NODE_IDS
    assert recv.recipient_peer is None


def test_timeout_duration_parsed(events):
    df, _ = events
    durs = {
        r.dur: r.duration_ms
        for r in df.filter(F.col("event_type") == "scheduled_timeout").select("dur", "duration_ms").distinct().collect()
    }
    assert durs == {"3s": 3000, "1s": 1000, "800ms": 800}


def test_received_proposal_parsed(events):
    df, _ = events
    row = df.filter(F.col("event_type") == "received_proposal").limit(1).collect()[0]
    assert row.pol_round == -1
    assert row.ps_total == 1
    assert len(row.bid_hash) == 12
    assert row.proposal_ts is not None


def test_strict_identity_failure(spark, tmp_path):
    bad = tmp_path / "badlogs"
    bad.mkdir()
    (bad / "orphan.log").write_text(
        '{"_msg": "Entering new round", "current": "1/0/RoundStepNewRound", '
        '"previous": "1/0/RoundStepNewHeight", "proposer": "AA", "height": 1, '
        '"round": 0, "ts": "2025-06-01T12:00:00.000000000Z"}\n'
    )
    raw = read_raw_events(spark, str(bad))
    with pytest.raises(MissingIdentityError):
        file_identities(raw, strict=True)


def test_generated_sim_id_pattern():
    import re

    from cometbft_log_etl_spark.pipeline import generate_sim_id

    a, b = generate_sim_id(), generate_sim_id()
    pat = r"^cometbft_sim_\d{8}T\d{6}_[0-9a-f]{8}$"
    assert re.fullmatch(pat, a) and re.fullmatch(pat, b)
    assert a != b  # repeated runs never clobber each other


def test_pipeline_writes_generated_sim_dir(spark, log_dir, tmp_path):
    """O4 parity: run_pipeline without an explicit sim_id writes a
    uniquely-named cometbft_sim_* result set (reference
    internal/storage/mongo.go:99-112)."""
    import os
    import re

    from cometbft_log_etl_spark.pipeline import run_pipeline

    d, _ = log_dir
    out = str(tmp_path / "lake")
    results = run_pipeline(spark, d, out_dir=out, plugins=["vote-latency"])
    subdirs = os.listdir(out)
    assert len(subdirs) == 1
    assert re.fullmatch(r"cometbft_sim_\d{8}T\d{6}_[0-9a-f]{8}", subdirs[0])
    written = set(os.listdir(os.path.join(out, subdirs[0])))
    assert "events" in written
    assert {n for n in results if n != "events"} <= written


def test_bench_etl_smoke(spark):
    """The per-round bench harness must stay runnable: a break here
    (plugin threading, the two-phase fan-out, fixture drift) would
    otherwise only surface as a crashed BENCH_r{N}.json. One record
    describes one timed run_pipeline call into a lake."""
    from tools.bench_etl import run_etl_bench

    r = run_etl_bench(spark, heights=10, repeat=1)
    assert r["n_lines"] > 0 and r["n_events"] > 0
    assert r["n_result_tables"] == 15
    assert r["result_rows"] > 0
    assert r["total_sec"] > 0


def test_normalize_preserves_file_path_verbatim(spark, log_dir):
    # etl_events calls attach_metadata(strict=False) on the argument that
    # normalize passes file_path through untouched; this is the cheap,
    # executed form of that invariant (no 8-family re-execution): every
    # file produces events, no event has a rewritten/null path.
    from cometbft_log_etl_spark.operators.normalize import normalize

    d, _ = log_dir
    raw = read_raw_events(spark, d)
    ev = normalize(raw)
    raw_paths = {r.file_path for r in raw.select("file_path").distinct().collect()}
    ev_paths = {r.file_path for r in ev.select("file_path").distinct().collect()}
    assert ev_paths == raw_paths
    assert None not in ev_paths
    # ... and per event family: every one of the 8 normalize branches
    # must carry a raw path on every row (a single branch rewriting or
    # nulling file_path would hide inside the whole-set check above if
    # other branches still cover all files)
    from pyspark.sql import functions as F

    per_family = {
        r.event_type: (r.n_null, set(r.paths))
        for r in ev.groupBy("event_type")
        .agg(
            F.sum(F.col("file_path").isNull().cast("long")).alias("n_null"),
            F.collect_set("file_path").alias("paths"),
        )
        .collect()
    }
    assert per_family, "normalize produced no events"
    for fam, (n_null, paths) in per_family.items():
        assert n_null == 0, f"{fam}: {n_null} events with null file_path"
        assert paths <= raw_paths, f"{fam}: rewritten file_path {paths - raw_paths}"


def test_single_pass_normalize_matches_union_formulation(spark, log_dir):
    # normalize() plans the seven non-P2P families as ONE projection;
    # normalize_unioned() is the readable per-family union. They must be
    # row-identical (schema, types, and values) on the full scenario.
    from cometbft_log_etl_spark.operators.normalize import normalize, normalize_unioned

    d, _ = log_dir
    raw = read_raw_events(spark, d).cache()
    try:
        a, b = normalize(raw), normalize_unioned(raw)
        assert a.schema == b.schema
        cols = a.columns
        rows_a = sorted(map(tuple, a.select(cols).collect()))
        rows_b = sorted(map(tuple, b.select(cols).collect()))
        assert rows_a == rows_b
    finally:
        raw.unpersist()


def test_gzip_logs_parse_identically(spark, tmp_path):
    """A gzip-compressed node log must yield exactly the events of its
    plain twin (Spark decompresses *.log.gz transparently; identity
    capture keys on lineage either way)."""
    import gzip
    import os

    from cometbft_log_etl_spark.pipeline import etl_events
    from tests.fixtures import build_scenario, write_logs

    sc = build_scenario(heights=5)
    plain_dir = str(tmp_path / "plain")
    write_logs(sc, plain_dir)
    gz_dir = str(tmp_path / "gz")
    os.makedirs(gz_dir)
    for fn in os.listdir(plain_dir):
        with open(os.path.join(plain_dir, fn), "rb") as src:
            with gzip.open(os.path.join(gz_dir, fn + ".gz"), "wb") as dst:
                dst.write(src.read())

    plain = etl_events(spark, plain_dir).drop("file_path")
    gz = etl_events(spark, gz_dir).drop("file_path")
    assert plain.count() == gz.count() > 0
    assert plain.exceptAll(gz).count() == 0 and gz.exceptAll(plain).count() == 0


def test_parse_rejects_accounts_for_every_dropped_line(spark, tmp_path):
    """parse_raw accepted + parse_rejects dropped == total lines, and
    each injected bad line lands under its exact reason."""
    import json
    import os

    from cometbft_log_etl_spark.sources.logs import (
        parse_raw,
        parse_rejects,
        read_log_lines,
    )
    from tests.fixtures import build_scenario, write_logs

    d = str(tmp_path / "logs")
    write_logs(build_scenario(heights=3), d)
    fn = sorted(os.listdir(d))[0]
    with open(os.path.join(d, fn), "a") as f:
        f.write("this is not json\n")
        f.write(json.dumps({"level": "info"}) + "\n")  # no _msg
        f.write(json.dumps({"_msg": "Timed out with invalid args"}) + "\n")
        f.write(json.dumps({"_msg": "SomeUnknownEvent"}) + "\n")

    lines = read_log_lines(spark, d)
    accepted = parse_raw(lines).count()
    rejects = parse_rejects(lines)
    from pyspark.sql import functions as F

    by_reason = {
        r.reason: r.n
        for r in rejects.groupBy("reason").agg(F.sum("n").alias("n")).collect()
    }
    assert by_reason["no_tag"] >= 2  # non-json + missing _msg
    # fixtures already carry negative lines of these classes; the
    # injected ones must add to the counts
    assert by_reason["invalid_args"] >= 1
    assert by_reason["unknown_tag"] >= 1
    # exact accounting: every input line is either accepted or counted
    # under exactly one reject reason
    assert accepted + sum(by_reason.values()) == lines.count()


def test_pipeline_with_rejects_table(spark, log_dir, tmp_path):
    from cometbft_log_etl_spark.pipeline import run_pipeline

    d, _ = log_dir
    res = run_pipeline(
        spark, d, out_dir=str(tmp_path), sim_id="rj",
        plugins=["vote-latency"], with_rejects=True,
    )
    assert "parse_rejects" in res
    on_disk = spark.read.parquet(str(tmp_path / "rj" / "parse_rejects"))
    assert set(on_disk.columns) == {"file_path", "reason", "n"}


def test_compressed_twin_fails_loudly(spark, tmp_path):
    """x.log AND x.log.gz for the same stem would double-ingest every
    line — the source must refuse that layout instead."""
    import gzip
    import os

    import pytest as _pytest

    from cometbft_log_etl_spark.sources.logs import read_log_lines

    d = str(tmp_path / "twins")
    os.makedirs(d)
    with open(os.path.join(d, "node.log"), "w") as f:
        f.write('{"_msg":"x"}\n')
    with gzip.open(os.path.join(d, "node.log.gz"), "wt") as f:
        f.write('{"_msg":"x"}\n')
    with _pytest.raises(ValueError, match="both plain and gzip"):
        read_log_lines(spark, d)
