"""CLI end-to-end (python -m cometbft_log_etl_spark): the reference
main() workflow — dir in, simulation-namespaced tables out — through
both ingest modes. get_spark's getOrCreate reuses the test session, so
these run the real argument wiring without a second JVM."""

from __future__ import annotations

import glob
import os

import pytest

from cometbft_log_etl_spark.__main__ import main

from .fixtures import build_scenario, write_logs


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli-logs"))
    write_logs(build_scenario(heights=3), d)
    return d


def _tables(root: str) -> set[str]:
    return {
        os.path.basename(p)
        for p in glob.glob(os.path.join(root, "*"))
        if os.path.isdir(p) and not os.path.basename(p).startswith("_")
    }


@pytest.mark.parametrize(
    "dests", [["--out"], ["--out", "--mongo-uri"], ["--mongo-uri"]], ids=["out", "out+mongo", "mongo"]
)
def test_cli_batch_lake(spark, log_dir, tmp_path, monkeypatch, dests):
    """Batch run into the lake and/or MongoDB. Mongo stores one
    collection per lake table and one document per row; pymongo is
    stubbed and the client is the file-backed fake from test_sinks."""
    import sys
    import types

    from cometbft_log_etl_spark import sinks

    from .test_sinks import FakeFactory, _batches

    out, mongo = str(tmp_path / "lake"), str(tmp_path / "mongo")
    monkeypatch.setitem(sys.modules, "pymongo", types.ModuleType("pymongo"))
    monkeypatch.setattr(sinks, "_default_client_factory", FakeFactory(mongo))
    args = ["--dir", log_dir, "--simulation", "cli_batch", "--plugins", "vote-latency", "--with-rejects"]
    values = {"--out": out, "--mongo-uri": "mongodb://fake:27017"}
    assert main(args + [x for d in dests for x in (d, values[d])]) == 0
    if "--out" not in dests:
        assert not os.path.exists(out)
        assert main(args + ["--out", out]) == 0  # the same tables, for their row counts
    root = f"{out}/cli_batch"
    tables = _tables(root)
    assert "events" in tables and "parse_rejects" in tables
    assert len(tables) >= 3, tables  # events + rejects + vote-latency family
    assert spark.read.parquet(f"{root}/events").count() > 0
    if "--mongo-uri" not in dests:
        assert not os.path.exists(mongo)
        return
    # an empty table inserts nothing, so it has no collection directory
    assert set(os.listdir(os.path.join(mongo, "cli_batch"))) <= tables
    for t in sorted(tables):
        docs = sum(len(b) for b in _batches(mongo, "cli_batch", t))
        assert docs == spark.read.parquet(f"{root}/{t}").count(), t


def test_cli_stream_lake_matches_batch(spark, log_dir, tmp_path):
    """--stream drains the same directory through the streaming entry;
    the lake and every plugin table must match the batch-mode run."""
    out = str(tmp_path / "lake2")
    assert main(["--dir", log_dir, "--out", out, "--simulation", "cli_b",
                 "--plugins", "vote-latency"]) == 0
    assert main(["--dir", log_dir, "--out", out, "--simulation", "cli_s",
                 "--stream", "--plugins", "vote-latency"]) == 0

    b_tables, s_tables = _tables(f"{out}/cli_b"), _tables(f"{out}/cli_s")
    assert b_tables == s_tables
    for t in sorted(b_tables):
        b = spark.read.parquet(f"{out}/cli_b/{t}")
        s = spark.read.parquet(f"{out}/cli_s/{t}").select(*b.columns)
        assert b.count() == s.count()
        assert s.exceptAll(b).count() == 0 and b.exceptAll(s).count() == 0


def test_cli_rejects_bad_arg_combos(log_dir):
    with pytest.raises(SystemExit):
        main(["--dir", log_dir])  # no destination
    with pytest.raises(SystemExit):
        main(["--dir", log_dir, "--stream", "--mongo-uri", "mongodb://x:1"])
