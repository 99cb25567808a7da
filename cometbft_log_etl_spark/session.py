"""SparkSession construction and per-session tuning.

The driver may hand us an already-built session (``__spark_entry__.entry``),
so everything that affects result correctness must be settable at runtime:
session time zone (UTC — DuckDB oracle timestamps are naive UTC), shuffle
partitioning, and AQE. ``_session_conf`` is the one table of those settings;
``tune_session`` applies it to any session, and ``get_spark`` builds a local
session for tests/bench from the same table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _aqe() -> str:
    """AQE toggle, default on. SPARK_GRAFT_AQE=false exists for the
    plan-gate sweep (round-13 verdict #7): every gate must hold with
    AQE on AND off — a gate that only passes under a runtime re-plan
    (or only without one) pins AQE variance, not a plan property."""
    return "false" if os.environ.get("SPARK_GRAFT_AQE", "true").lower() == "false" else "true"


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` (default 32): the local[N] width, the shuffle
    partition count and the explicit-width repartitions. Anything but a
    positive integer is rejected here, at the point of use."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return n


def _session_conf() -> dict[str, str]:
    """Runtime-settable configs applied to any session we touch. These are
    both correctness (timeZone) and 100TB-posture (AQE, skew join)
    settings."""
    aqe = _aqe()
    return {
        "spark.sql.session.timeZone": "UTC",
        # Spark 4.x reads tz-naive parquet timestamps as TIMESTAMP_NTZ by
        # default, which unix_micros/unix_millis reject. Our semantics (matching
        # the reference's UTC timestamps, lib/time.go:5-13) are "naive == UTC
        # instant", so read them as TIMESTAMP under the UTC session tz.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.adaptive.enabled": aqe,
        "spark.sql.adaptive.coalescePartitions.enabled": aqe,
        "spark.sql.adaptive.skewJoin.enabled": aqe,
        "spark.sql.shuffle.partitions": str(default_parallelism()),
    }


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable correctness/perf configs to an existing session."""
    for k, v in _session_conf().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in some deployments; builder path sets it anyway
    return spark


# DataFrames persisted via persist_tracked since session start, in call
# order. release_new_persists drains the suffix created after a snapshot
# THROUGH the DataFrame API (CacheManager) — see persist_tracked.
_TRACKED_PERSISTS: list = []


def _session_stopped(df) -> bool:
    """True when the DataFrame's SparkContext has been stopped (its JVM
    handle is gone) — the entry can never be unpersisted again."""
    try:
        return df.sparkSession.sparkContext._jsc is None
    except Exception:
        return True


def persist_tracked(df, level=None):
    """``df.persist()`` that harnesses can release through the
    CacheManager.

    Spark keys cached plans by their canonicalized logical plan. A
    raw-RDD-level unpersist (release_new_persists' fallback sweep)
    frees the blocks but leaves the CacheManager entry alive, so the
    NEXT call of the same query sees 'already cached', its .persist()
    no-ops, and every consumer is rewritten onto an InMemoryRelation
    whose buffers are permanently at StorageLevel.NONE — each consumer
    silently re-derives the whole subtree (the q25 barrier only ever
    cached on the first call per session). Tracking the persisted
    DataFrame lets the release path call df.unpersist(), which drops
    the cache entry AND the blocks, so a repeat call re-caches fresh.

    Entries whose session has since been stopped are pruned on every
    append, so long-lived processes that call persist_tracked outside
    a snapshot/release harness (notebooks, interactive use) don't pin
    dead DataFrame/JVM references for the life of the process
    (round-10 advice). Pruning is safe under an outstanding snapshot
    because release matches tracked entries by identity, not index.
    """
    from pyspark import StorageLevel

    _TRACKED_PERSISTS[:] = [t for t in _TRACKED_PERSISTS if not _session_stopped(t)]
    df = df.persist(level if level is not None else StorageLevel.MEMORY_AND_DISK)
    _TRACKED_PERSISTS.append(df)
    return df


class _PersistSnapshot(set):
    """Set of persisted RDD ids + the identity prefix of tracked
    persists at snapshot time. Behaves as a plain set for callers that
    only do membership tests."""

    def __init__(self, ids, tracked):
        super().__init__(ids)
        # Strong refs pin the prefix objects so their id()s can't be
        # recycled onto post-snapshot DataFrames while this snapshot
        # (bounded: one harness run) is alive.
        self._tracked_refs = tuple(tracked)
        self.tracked_ids = frozenset(id(t) for t in self._tracked_refs)


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of currently persisted RDDs (cached DataFrames, persisted
    intermediates, localCheckpoints). Snapshot before a bounded piece of
    work, then pass to release_new_persists after — the surgical
    alternative to catalog.clearCache() for harnesses (bench rounds,
    plan audits) that share a long-lived session and must not drop
    OTHER work's caches."""
    ids = {e for e in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}
    return _PersistSnapshot(ids, _TRACKED_PERSISTS)


def release_new_persists(spark: SparkSession, before: set[int]) -> int:
    """Unpersist everything persisted since the ``before`` snapshot
    (non-blocking); returns how many were released.

    Two passes: tracked DataFrames first, via df.unpersist() so the
    CacheManager entry dies with the blocks (a raw-RDD unpersist leaves
    a dead cache entry that poisons every later .persist() of the same
    canonical plan — round-9 advice); then the raw-RDD sweep for
    pins with no CacheManager entry (localCheckpoint RDDs). Repeated
    harness runs otherwise accumulate pinned blocks (each plugin
    fan-out pins its shared intermediates, each localCheckpoint pins
    its RDD) — block-manager pressure that reads as timing noise.

    Tracked entries are matched by identity against the snapshot's
    prefix: a plain set (no snapshot attrs) releases NO tracked
    DataFrames rather than all of them — the documented 'must not drop
    OTHER work's caches' contract for external callers that build
    their own id set (round-10 advice)."""
    released = 0
    prior_ids = getattr(before, "tracked_ids", None)
    if prior_ids is not None:
        keep = []
        for df in _TRACKED_PERSISTS:
            if id(df) in prior_ids:
                keep.append(df)
                continue
            try:
                df.unpersist(False)
                released += 1
            except Exception:
                pass  # session already stopped; the RDD sweep still runs
        _TRACKED_PERSISTS[:] = keep
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        if rid not in before:
            jmap.get(rid).unpersist(False)
            released += 1
    return released


def get_spark(
    app_name: str = "cometbft-log-etl-spark",
    cpus: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    local[N] = one JVM with N executor threads; the design still assumes a
    multi-executor cluster (no collect()-based operators, partition-aware
    joins), so the same plans run unchanged on a real cluster.
    """
    cpus = cpus or default_parallelism()
    builder_only = {
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map={**_session_conf(), **builder_only})
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)
