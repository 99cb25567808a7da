"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The reader, generator and checks are tested without Spark; the smoke
tests run each workload on the ``tiny`` corpus (a few minutes in all).
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402
from corpus import build_corpus  # noqa: E402
from eventlog import EventLog  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_eventlog_sums_per_group_and_driver_gap():
    lines = [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000, "Properties": {"spark.jobGroup.id": "a"}}),
        _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0}, "Properties": {"spark.jobGroup.id": "a"}}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000, "JVM GC Time": 100,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 30}}}),
        _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 3000}),
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 2500, "Properties": {}}),
        _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 4000}),
    ]
    log = EventLog(lines)
    a = log.groups["a"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 1, 1)
    assert a["executor_run_s"] == 1.5 and a["executor_cpu_s"] == 1.0 and a["gc_s"] == 0.1
    assert (a["shuffle_read_bytes"], a["shuffle_write_bytes"], a["spill_bytes"]) == (30, 30, 12)
    assert log.totals()["jobs"] == 2 and log.totals({None})["jobs"] == 1
    # jobs cover [1000, 4000]; the window is [0, 5000]
    assert log.driver_gap_s(0, 5000) == 2.0


def test_corpus_is_seeded_and_clones_are_independent(tmp_path):
    a = build_corpus(str(tmp_path / "a"), 5, 2, 3)
    b = build_corpus(str(tmp_path / "b"), 5, 2, 3)
    c = build_corpus(str(tmp_path / "c"), 6, 2, 3)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b")) and len(names) == a["files"] == 8
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()
    assert (tmp_path / "a" / names[0]).read_bytes() != (tmp_path / "c" / names[0]).read_bytes()
    ids = a["node_ids"][0] + a["node_ids"][1]
    assert len(set(ids)) == 8 and ids == sorted(ids)
    assert a["expected_events"] == c["expected_events"] and a["lines"] == c["lines"]


def _lake(tmp_path, manifest, latency):
    sim = tmp_path / "sim"
    (sim / "events").mkdir(parents=True)
    (sim / "t").mkdir()
    types = [t for t, n in manifest["expected_events"].items() for _ in range(n)]
    pq.write_table(pa.table({"event_type": types}), sim / "events" / "part-0.parquet")
    node = manifest["node_ids"][0][1]
    pq.write_table(pa.table({"node_id": [node], "latency_ms": [latency]}), sim / "t" / "part-0.parquet")
    return str(sim)


def test_checks_catch_a_corrupted_table(tmp_path):
    manifest = build_corpus(str(tmp_path / "logs"), 1, 1, 2)
    expected = check.digests(_lake(tmp_path / "good", manifest, 80), manifest)
    attempted, failures = check.check_run(_lake(tmp_path / "good2", manifest, 80), manifest, expected)
    assert attempted == 2 and failures == []
    _, failures = check.check_run(_lake(tmp_path / "bad", manifest, 81), manifest, expected)
    assert len(failures) == 1 and failures[0].startswith("table t")


def test_canonical_form_ignores_seed_material():
    m = {"node_ids": [["1" * 40]], "val_addrs": [["AB" * 20]]}
    n = {"node_ids": [["2" * 40]], "val_addrs": [["CD" * 20]]}
    row = "peer {}@10.0.0.1 proposer {} at 2031-01-05T12:00:01Z in file:/x/y/c000_node0.log"
    a = check.Canon(m).text(row.format("1" * 40, ("AB" * 20)[:12]))
    b = check.Canon(n).text(row.format("2" * 40, ("cd" * 20)[:12]))
    assert a == b == "peer N0.0@10.0.0.1 proposer V0.0 at DT12:00:01Z in c000_node0.log"


def test_benchmark_json_names_every_reported_metric():
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(run.WORKLOADS)
    units = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert all(run.unit_of(name) == unit for name, unit in units.items())


@pytest.fixture(autouse=True)
def tiny_corpus(monkeypatch):
    monkeypatch.setattr(run, "WORKLOADS", {w: {**wl, "scale": "tiny"} for w, wl in run.WORKLOADS.items()})


def _bench(capsys, workload, trace):
    code = run.main(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)])
    out = capsys.readouterr().out.strip().splitlines()
    return code, json.loads(out[-1]), [json.loads(line) for line in out[:-1] if line.startswith("{")]


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_end_to_end(capsys, workload):
    code, result, lines = _bench(capsys, workload, 0)
    assert code == 0 and result["correct"] and result["failed"] == 0 and result["attempted"] > 1
    want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    samples = [line["samples"] for line in lines if "samples" in line]
    assert samples == [1]


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_traced(capsys, workload):
    code, result, _ = _bench(capsys, workload, 1)
    assert code == 0 and result["correct"]
    want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_corrupted_output_is_counted_as_failed(capsys, monkeypatch):
    real = check.load_expected

    def corrupted(scale):
        tables = real(scale)
        tables["vote_latencies"] = [tables["vote_latencies"][0] + 1, tables["vote_latencies"][1]]
        return tables

    monkeypatch.setattr(check, "load_expected", corrupted)
    code, result, _ = _bench(capsys, "etl_stream_1x", 0)
    assert code == 0 and not result["correct"]
    assert result["failed"] == 1 and result["failed"] / result["attempted"] > 0
