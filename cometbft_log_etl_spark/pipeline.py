"""End-to-end ETL: log dir → staged events → plugin tables → sinks.

Mirrors the reference main() pipeline (/root/reference/main.go:24-81):
parse directory → convert → attach per-file metadata → sort → sink →
fan out to plugin analytics. The Spark restatement (SURVEY.md §3.1):
read → normalize (one wide DF) → stage once (sorted parquet or a
streaming drain into the lake, localCheckpoint without a lake) → run
each enabled plugin off the staged table → write every result table.
``run_pipeline`` is the one function that wires that chain; the CLI,
the ETL bench (tools/bench_etl.py) and the plugin plan audit
(tools/audit_plans.py) all call it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.metadata import attach_metadata, file_identities
from .operators.normalize import normalize
from .session import tune_session
from .sources.logs import read_raw_events


def etl_events(
    spark: SparkSession,
    log_dir: str,
    strict: bool = True,
    materialize: bool = False,
) -> DataFrame:
    """Parse + normalize + enrich a directory of CometBFT node logs.

    The normalize step is two branches over the same parsed lines (the
    single-pass consensus projection + the P2P decode branch); with
    file_identities that is three consumers of raw. raw is not
    persisted: Catalyst's JSON-expression pruning rewrites each
    consumer's ``from_json`` to only the fields it touches, so the
    re-reads are pruned parses, cheaper than writing and re-reading the
    deserialized 23-field structs.

    With ``materialize=True`` the result is eagerly localCheckpoint-ed.
    For the N-plugin fan-out this is decisively better than
    ``.cache()``: a cached DataFrame keeps its
    FULL logical lineage, so every one of the ~15 downstream plugin
    plans re-analyzes and re-optimizes the whole parse→8-family-union
    tree (measured: ~7 s of driver-side planning + per-job overhead at
    the bench scale); the checkpoint truncates lineage to a LogicalRDD
    and downstream planning touches only the plugin's own operators
    (~2 s, plugins phase halved). Trade-off: the checkpoint stores row
    data (no columnar InMemoryRelation compression / column pruning)
    and drops recompute-on-failure — at 100 TB the equivalent pattern
    is staging events to the parquet sink once and fanning plugins out
    from that columnar, pruned scan (see run_pipeline).
    """
    from .session import default_parallelism

    tune_session(spark)
    raw = read_raw_events(spark, log_dir)
    events = normalize(raw)
    ids = file_identities(raw, strict=strict)
    # attach_metadata's own strict check scans the JOINED events — which
    # executes the whole 8-family normalize once more just to verify an
    # invariant that already holds here by construction: `ids` contains
    # every file_path in `raw` (it is a groupBy over raw), events derive
    # from the same raw, and strict file_identities above already
    # rejected null identities. Skip the redundant event-side execution;
    # callers joining foreign identity tables keep the strict path.
    out = attach_metadata(events, ids, strict=False)
    # The 2-branch union doubles partition count (one set per branch);
    # every downstream job over the cached events would pay that
    # task-scheduling tax on each scan. Coalesce (narrow, no shuffle)
    # back to cluster parallelism: same work in fewer, fuller tasks.
    out = out.coalesce(default_parallelism())
    if materialize:
        out = out.localCheckpoint(eager=True)
    return out


def write_events(
    events: DataFrame,
    out_dir: str,
    partition_by_date: bool = False,
) -> None:
    """O1/O2: event sink. The global time sort becomes a range-partitioned
    write (orderBy before write ⇒ parquet files are time-ordered without a
    single-reducer bottleneck). With partition_by_date the lake layout is
    hive-partitioned on event_date — at 100 TB that is what makes
    time-bounded reads partition-prune instead of scanning the corpus."""
    from pyspark.sql import functions as F

    df = events.orderBy("timestamp")
    path = f"{out_dir.rstrip('/')}/events"
    if partition_by_date:
        df = df.withColumn("event_date", F.to_date("timestamp"))
        df.write.mode("overwrite").partitionBy("event_date").parquet(path)
    else:
        df.write.mode("overwrite").parquet(path)


def generate_sim_id() -> str:
    """Generated simulation id, `cometbft_sim_<YYYYMMDDTHHMMSS>_<8 hex>` —
    parity with the reference's generated database name for runs without
    an explicit simulation id (internal/storage/mongo.go:99-112)."""
    import secrets
    import time

    return f"cometbft_sim_{time.strftime('%Y%m%dT%H%M%S')}_{secrets.token_hex(4)}"


def run_pipeline(
    spark: SparkSession,
    log_dir: str,
    out_dir: str | None = None,
    plugins: list[str] | None = None,
    strict: bool = True,
    sim_id: str | None = None,
    with_rejects: bool = False,
    mongo_uri: str | None = None,
    stream: bool = False,
    partition_by_date: bool = False,
) -> dict[str, DataFrame]:
    """Full fan-out: normalized events + every enabled plugin's result
    tables (O5/O6 — the single shared scan becomes one staged events
    table every plugin reads). Returns ``{"events": ..., <table>: ...}``.

    Results land in the lake under ``<out_dir>/<sim_id>/`` and/or in
    MongoDB at ``mongo_uri`` with db = ``sim_id`` — the reference's
    database-per-simulation naming (O4), with a generated
    `cometbft_sim_…` id when none is passed, so repeated runs never
    clobber each other. With neither, nothing is written.

    The shared events table is staged exactly once before the fan-out:

    - with an ``out_dir``: the time-sorted events parquet (O1/O2) is
      written FIRST and plugins read it back — the staged table is
      columnar and compressed, every plugin scan is column-pruned, the
      lineage is one FileScan, and the sink write doubles as the
      staging (no second pass). This is the 100 TB shape: measured
      faster than localCheckpoint from ~10⁶ rows up. With ``stream``
      the same table is instead drained through Structured Streaming
      (the reference's dormant ParseStream entry, dispatcher.go:101-121)
      into the exactly-once file sink with an availableNow trigger —
      same rows, minus the global time sort a stream cannot do;
    - without: eager localCheckpoint (see etl_events) — no disk
      location to stage to, and at in-memory scales the two are equal.

    ``registry.run_plugins`` then builds every plugin's tables; the
    build runs one job of its own, the eager checkpoint of the
    network-latency match ledger. Every result table then goes through
    the sinks' ``store`` under ``registry.two_phase_fanout``, one
    concurrent map over all tables. ``registry.run_plugins`` and
    ``registry.two_phase_fanout`` are looked up on the module at call
    time, so wrappers installed from outside (perfbench/layers.py) see
    every table.
    """
    from .plans import registry
    from .sinks import MongoResultSink, ParquetResultSink

    if stream and out_dir is None:
        raise ValueError("stream=True drains into the lake and needs an out_dir")
    sim_id = sim_id or generate_sim_id()
    lake = ParquetResultSink(out_dir, sim_id) if out_dir is not None else None
    mongo = MongoResultSink(mongo_uri, sim_id) if mongo_uri is not None else None
    if lake is None:
        events = etl_events(spark, log_dir, strict=strict, materialize=True)
    else:
        events = _stage_to_lake(spark, log_dir, out_dir, sim_id, strict, stream, partition_by_date)
    results: dict[str, DataFrame] = {"events": events}
    results.update(registry.run_plugins(events, enabled=plugins))
    if with_rejects:
        # per-file drop-reason counters — the ingest job's data-quality
        # table, one extra pruned pass
        from .sources.logs import read_parse_rejects

        results["parse_rejects"] = read_parse_rejects(spark, log_dir)
    sinks = [s for s in (lake, mongo) if s is not None]
    if mongo is not None:
        mongo.store("events", events)

    def store(name: str, df: DataFrame) -> None:
        for sink in sinks:
            sink.store(name, df)

    if sinks:
        registry.two_phase_fanout({n: df for n, df in results.items() if n != "events"}, store)
    return results


def _stage_to_lake(spark, log_dir, out_dir, sim_id, strict, stream, partition_by_date) -> DataFrame:
    """Write ``<out_dir>/<sim_id>/events`` (sorted batch write or
    availableNow stream drain) and read it back for the plugin fan-out."""
    from pyspark.sql import types as T

    root = f"{out_dir.rstrip('/')}/{sim_id}"
    if stream:
        from .streaming.ingest import stream_events
        from .streaming.sink import stream_events_to_lake

        # schema probe only — strict=False so the eager identity
        # validation job runs ONCE (inside stream_events_to_lake)
        schema = stream_events(spark, log_dir, strict=False).schema
        q, _ = stream_events_to_lake(
            spark, log_dir, out_dir, sim_id=sim_id,
            strict=strict, partition_by_date=partition_by_date,
        )
        q.awaitTermination()
    else:
        staged = etl_events(spark, log_dir, strict=strict)
        write_events(staged, root, partition_by_date=partition_by_date)
        schema = staged.schema
    # explicit schema: a zero-event run writes no part files, and a bare
    # read would fail schema inference instead of returning an empty table
    if partition_by_date:
        schema = T.StructType([*schema.fields, T.StructField("event_date", T.DateType())])
    return spark.read.schema(schema).parquet(f"{root}/events")
