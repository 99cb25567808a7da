"""Result-sink contract (internal/storage/mongo.go:40-112): db per
simulation, collection per family, unordered inserts batched at 1000,
distributed (per-partition) writes. The Mongo sink is exercised through
an injected fake client that records inserts to disk (executor-side
writes are in other processes, so an in-memory fake can't observe
them); the pymongo-missing path must fail fast with a clear message."""

from __future__ import annotations

import glob
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from cometbft_log_etl_spark.sinks import MongoResultSink, ParquetResultSink


class FakeCollection:
    def __init__(self, root: str, db: str, name: str):
        self.dir = os.path.join(root, db, name)

    def insert_many(self, docs, ordered=True):
        assert ordered is False, "reference uses unordered bulk inserts (mongo.go:91)"
        os.makedirs(self.dir, exist_ok=True)
        path = os.path.join(self.dir, f"{os.getpid()}_{uuid.uuid4().hex}.json")
        with open(path, "w") as fh:
            json.dump(docs, fh, default=str)  # event rows carry timestamps


class FakeDb:
    def __init__(self, root: str, db: str):
        self.root, self.db = root, db

    def __getitem__(self, name: str) -> FakeCollection:
        return FakeCollection(self.root, self.db, name)


class FakeClient:
    def __init__(self, root: str, uri: str):
        self.root, self.uri = root, uri
        assert uri.startswith("mongodb://")

    def __getitem__(self, db: str) -> FakeDb:
        return FakeDb(self.root, db)

    def close(self) -> None:
        pass


class FakeFactory:
    """Picklable factory: executors reconstruct it from (root,)."""

    def __init__(self, root: str):
        self.root = root

    def __call__(self, uri: str) -> FakeClient:
        return FakeClient(self.root, uri)


def _batches(root: str, db: str, name: str) -> list[list[dict]]:
    return [
        json.load(open(p))
        for p in sorted(glob.glob(os.path.join(root, db, name, "*.json")))
    ]


def test_mongo_sink_batches_unordered_per_partition(spark, tmp_path):
    root = str(tmp_path)
    sink = MongoResultSink(
        "mongodb://example:27017", "sim42", batch_size=100, client_factory=FakeFactory(root)
    )
    df = spark.range(2501).select(F.col("id"), (F.col("id") % 7).alias("k")).repartition(4)
    sink.store("vote_latencies", df)

    batches = _batches(root, "sim42", "vote_latencies")
    docs = [d for b in batches for d in b]
    assert len(docs) == 2501
    assert sorted(d["id"] for d in docs) == list(range(2501))
    # batch cap holds everywhere; with 2501 rows over 4 partitions at
    # batch 100 there must be both full and remainder batches
    assert max(len(b) for b in batches) <= 100
    assert any(len(b) == 100 for b in batches)
    assert any(len(b) < 100 for b in batches)


def test_mongo_sink_collection_per_family(spark, tmp_path):
    root = str(tmp_path)
    sink = MongoResultSink(
        "mongodb://example:27017", "simA", client_factory=FakeFactory(root)
    )
    df = spark.range(5).select(F.col("id"))
    sink.store("events", df)
    sink.store("timeout_analysis", df)
    assert sum(len(b) for b in _batches(root, "simA", "events")) == 5
    assert sum(len(b) for b in _batches(root, "simA", "timeout_analysis")) == 5


def test_mongo_sink_fails_fast_without_driver(monkeypatch):
    # The constructor must surface a missing driver immediately instead
    # of failing mid-write on an executor. Simulate absence regardless
    # of whether pymongo happens to be installed.
    import builtins

    real_import = builtins.__import__

    def no_pymongo(name, *a, **k):
        if name == "pymongo":
            raise ImportError("No module named 'pymongo'")
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", no_pymongo)
    with pytest.raises(ImportError, match="pymongo"):
        MongoResultSink("mongodb://example:27017", "sim42")


def test_parquet_sink_layout(spark, tmp_path):
    sink = ParquetResultSink(str(tmp_path), "simB")
    df = spark.range(10).select(F.col("id"))
    sink.store("consensus_steps", df)
    out = spark.read.parquet(str(tmp_path / "simB" / "consensus_steps"))
    assert out.count() == 10


def test_write_training_shards(spark, sf_dir, tmp_path):
    """Shard export: deterministic assignment, all docs present, rough
    balance, manifest agrees with what landed on disk."""
    import json

    from cometbft_log_etl_spark.sinks import write_training_shards
    from cometbft_log_etl_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    m1 = write_training_shards(docs, out, n_shards=4)
    assert set(m1["shards"]) == {0, 1, 2, 3}
    assert sum(s["n_docs"] for s in m1["shards"].values()) == docs.count()
    counts = [s["n_docs"] for s in m1["shards"].values()]
    assert max(counts) < 2 * min(counts)  # hash balance at n=500

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    ondisk = {
        r.shard: r.n for r in back.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    assert {int(k): v["n_docs"] for k, v in m1["shards"].items()} == ondisk

    manifest = json.loads((tmp_path / "shards" / "_manifest.json").read_text())
    assert manifest == json.loads(json.dumps(m1))  # written == returned

    # determinism: re-export to a different dir, same assignment
    m2 = write_training_shards(docs, str(tmp_path / "shards2"), n_shards=4)
    assert m1["shards"] == m2["shards"]


def test_manifest_seeds_empty_shards(spark, tmp_path):
    """A tiny corpus with large n_shards must still yield a manifest
    entry for every shard id 0..n_shards-1 (consumers iterate the full
    range), with zero counts for shards no doc hashed into."""
    from cometbft_log_etl_spark.sinks import write_training_shards

    docs = spark.createDataFrame(
        [(f"d{i}", "alpha beta gamma") for i in range(3)], "doc_id string, text string"
    )
    m = write_training_shards(docs, str(tmp_path / "tiny"), n_shards=16)
    assert set(m["shards"]) == set(range(16))
    assert sum(s["n_docs"] for s in m["shards"].values()) == 3
    empties = [k for k, s in m["shards"].items() if s["n_docs"] == 0]
    assert len(empties) >= 13
    assert all(m["shards"][k] == {"n_docs": 0, "n_tokens": 0} for k in empties)


def test_mongo_sink_real_pymongo_surface(spark):
    """Exercise insert_many batching through pymongo's REAL API surface:
    against a live mongod when $MONGO_TEST_URI is set (pymongo), else
    via mongomock. Skipped cleanly when neither is available —
    in-container CI has no Mongo driver.

    Both backends are in-process/driver-side, and Spark executors are
    separate processes, so the test drives the module-level partition
    kernel directly — byte-for-byte the code `store` ships to every
    executor."""
    import os

    live_uri = os.environ.get("MONGO_TEST_URI")
    if live_uri:
        pymongo = pytest.importorskip("pymongo")

        class _LiveBackend:
            def MongoClient(self):
                client = pymongo.MongoClient(live_uri, serverSelectionTimeoutMS=2000)
                client["sim-x"]["vote_latency"].drop()  # idempotent re-runs
                return client

        mongomock = _LiveBackend()
    else:
        mongomock = pytest.importorskip("mongomock")

    from cometbft_log_etl_spark.sinks import insert_rows_batched

    calls: list[int] = []

    class SpyCollection:
        def __init__(self, real):
            self._real = real

        def insert_many(self, docs, ordered=True):
            calls.append(len(docs))
            return self._real.insert_many(docs, ordered=ordered)

    class SpyDb:
        def __init__(self, real):
            self._real = real

        def __getitem__(self, name):
            return SpyCollection(self._real[name])

    class SpyClient:
        def __init__(self, uri):
            self._real = mongomock.MongoClient()
            self.closed = False

        def __getitem__(self, db):
            return SpyDb(self._real[db])

        def close(self):
            self.closed = True

    client_holder = {}

    def factory(uri):
        client_holder["c"] = SpyClient(uri)
        return client_holder["c"]

    rows = (
        spark.range(2500)
        .select(
            F.col("id").alias("height"),
            F.concat(F.lit("node-"), F.col("id") % 4).alias("node_id"),
        )
        .collect()
    )
    insert_rows_batched(rows, factory, "mongodb://test", "sim-x", "vote_latency", 1000)

    assert calls == [1000, 1000, 500]  # batched at 1000, remainder flushed
    assert client_holder["c"].closed
    real_coll = client_holder["c"]._real["sim-x"]["vote_latency"]
    assert real_coll.count_documents({}) == 2500  # real pymongo query surface
    doc = real_coll.find_one({"height": 42})
    assert doc["node_id"] == "node-2"
