"""Traced run: per-layer metrics for one workload's corpus.

    python3 perfbench/layers.py OUT_JSON -- <CLI arguments>

Runs in its own process with the Spark event log on (plain JSON, set
through ``SPARK_CONF_DIR`` by ``run_traced``). Two phases, one session:

1. The CLI path, as ``python -m cometbft_log_etl_spark`` runs it, with
   job groups and timers wrapped around the package's public functions
   from outside: each plugin table runs under its own group inside
   ``two_phase_fanout``, and ``registry.plugins`` records which plugin
   emitted which table. Gives ``plans.*``, ``plans.registry.fanout.*``,
   ``spark.*`` (from the event log) and ``trace.wall_s``.
2. Layer differencing on the warm session. Each prefix of the ETL chain
   runs through the noop sink under a ``layer.*`` group; a layer's
   ``busy_s`` is its prefix time minus the time of the prefix before
   it. Both write paths (``pipeline.write_events`` and
   ``streaming.sink``) run here for every workload.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _dir_files_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        if "/_" in d[len(path):]:
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=[]).num_rows


class Tracer:
    """Wrappers installed on the package's modules before the CLI runs."""

    def __init__(self):
        self.table_plugin: dict[str, str] = {}
        self.table_s: dict[str, float] = {}
        self.table_df: dict = {}
        self.fanout_s = 0.0

    def install(self):
        from cometbft_log_etl_spark.plans import registry

        plugins, fanout = registry.plugins, registry.two_phase_fanout
        tracer = self

        def traced_plugins():
            def wrap(name, fn):
                def run(events):
                    tables = fn(events)
                    for t in tables:
                        tracer.table_plugin[t] = name
                    return tables

                return run

            return {n: wrap(n, fn) for n, fn in plugins().items()}

        def traced_fanout(tables, action, *a, **kw):
            from pyspark import SparkContext

            sc = SparkContext.getOrCreate()

            def timed(name, df):
                sc.setJobGroup(f"table.{name}", name)
                t0 = time.monotonic()
                try:
                    return action(name, df)
                finally:
                    tracer.table_s[name] = time.monotonic() - t0
                    tracer.table_df[name] = df

            t0 = time.monotonic()
            try:
                return fanout(tables, timed, *a, **kw)
            finally:
                tracer.fanout_s += time.monotonic() - t0
                sc.setJobGroup("cli", "cli")

        registry.plugins = traced_plugins
        registry.two_phase_fanout = traced_fanout


def run_cli(argv: list[str]) -> dict:
    """Phase 1: the CLI module as __main__, traced."""
    from launch import run_module

    tracer = Tracer()
    tracer.install()
    code, marks = run_module(argv, lambda spark, _: spark.sparkContext.setJobGroup("cli", "cli"))
    if code:
        raise SystemExit(code)
    marks["tracer"] = tracer
    return marks


def noop(spark, group: str, df, **counters) -> tuple[float, dict]:
    """Materialize ``df`` through the noop sink under job group ``group``;
    returns (seconds, observed counters)."""
    from pyspark.sql import Observation

    spark.sparkContext.setJobGroup(group, group)
    obs = None
    if counters:
        obs = Observation(group)
        df = df.observe(obs, *[c.alias(n) for n, c in counters.items()])
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    dt = time.monotonic() - t0
    return dt, (obs.get if obs is not None else {})


def differencing(spark, log_dir: str, work: str) -> tuple[dict, str]:
    """Phase 2: per-layer busy time and counts on the warm session.
    Also returns the job group of the stream it ran (a query's
    micro-batches run under its run id, not the caller's group)."""
    from pyspark.sql import functions as F

    from cometbft_log_etl_spark.operators.metadata import attach_metadata, file_identities
    from cometbft_log_etl_spark.operators.normalize import normalize
    from cometbft_log_etl_spark.pipeline import etl_events, write_events
    from cometbft_log_etl_spark.sources.logs import parse_raw, parse_rejects, read_log_lines
    from cometbft_log_etl_spark.streaming.sink import stream_events_to_lake

    one = F.count(F.lit(1))
    m: dict = {}
    lines = read_log_lines(spark, log_dir)
    raw = parse_raw(lines)
    t_raw, c = noop(spark, "layer.sources.logs", raw, rows=one)
    m["sources.logs.busy_s"] = t_raw
    m["sources.logs.rows_out"] = c["rows"]
    _, c = noop(spark, "layer.sources.lines", lines, rows=one)
    m["sources.logs.lines_in"] = c["rows"]
    m["sources.logs.bytes_in"] = sum(e.stat().st_size for e in os.scandir(log_dir) if e.name.endswith(".log"))
    spark.sparkContext.setJobGroup("layer.sources.rejects", "rejects")
    drops = {r["reason"]: r["n"] for r in parse_rejects(lines).groupBy("reason").agg(F.sum("n").alias("n")).collect()}
    for reason in ("no_tag", "invalid_args", "unknown_tag"):
        m[f"sources.logs.drops.{reason}"] = drops.get(reason, 0)

    events = normalize(raw)
    t_norm, c = noop(spark, "layer.operators.normalize", events, rows=one)
    m["operators.normalize.busy_s"] = t_norm - t_raw
    m["operators.normalize.rows_out"] = c["rows"]
    m["operators.normalize.rows_invalid"] = m["sources.logs.rows_out"] - c["rows"]

    p2p = raw.filter(F.col("kind").isin("send", "try_send", "received_bytes"))
    t_p2p, c = noop(spark, "layer.operators.decode.input", p2p, rows=one)
    t_dec, _ = noop(spark, "layer.operators.decode", normalize(p2p))
    m["operators.decode.busy_s"] = t_dec - t_p2p
    m["operators.decode.rows_in"] = c["rows"]

    spark.sparkContext.setJobGroup("layer.operators.metadata", "metadata")
    t0 = time.monotonic()
    ids = file_identities(raw, strict=True)
    t_ids = time.monotonic() - t0
    enriched = attach_metadata(events, ids, strict=False)
    t_meta, c = noop(spark, "layer.operators.metadata", enriched,
                     null_ids=F.sum(F.col("node_id").isNull().cast("long")))
    m["operators.metadata.busy_s"] = t_ids + t_meta - t_norm
    m["operators.metadata.files"] = ids.count()
    m["operators.metadata.null_identity_rows"] = c["null_ids"] or 0

    spark.sparkContext.setJobGroup("layer.pipeline.write_events", "write")
    out = os.path.join(work, "layer_write")
    t0 = time.monotonic()
    write_events(etl_events(spark, log_dir), out)
    m["pipeline.write_events.busy_s"] = time.monotonic() - t0 - t_meta
    m["pipeline.write_events.files_written"], m["pipeline.write_events.bytes_written"] = _dir_files_bytes(
        os.path.join(out, "events"))

    spark.sparkContext.setJobGroup("layer.streaming.sink", "stream")
    q, root = stream_events_to_lake(spark, log_dir, os.path.join(work, "layer_stream"), sim_id="s",
                                    partition_by_date=True)
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    drain = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1e3
    m["streaming.sink.drain_s"] = drain
    m["streaming.sink.batches"] = len(progress)
    m["streaming.sink.input_rows_per_s"] = sum(p["numInputRows"] for p in progress) / drain if drain else 0.0
    m["streaming.sink.files_written"] = _dir_files_bytes(os.path.join(root, "events"))[0]
    return m, str(q.runId)


def main() -> int:
    out_path, sep, *argv = sys.argv[1:]
    if sep != "--":
        raise SystemExit("usage: layers.py OUT_JSON -- <CLI arguments>")
    sys.path.insert(0, ROOT)
    from eventlog import EventLog

    marks = run_cli(argv)
    tracer: Tracer = marks["tracer"]
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    log_dir = argv[argv.index("--dir") + 1]
    cli_out = os.path.join(argv[argv.index("--out") + 1], argv[argv.index("--simulation") + 1])
    work = os.path.dirname(out_path)
    m = {"trace.wall_s": marks["end"] - marks["ready"]}

    from bench import plan_fingerprint

    plans = {t: plan_fingerprint(df) for t, df in sorted(tracer.table_df.items())}
    layers, layer_stream_group = differencing(spark, log_dir, work)
    m.update(layers)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    log = EventLog.read(os.path.join(work, "eventlog", app_id))
    cli_groups = {g for g in log.groups if not (g or "").startswith("layer.")} - {layer_stream_group}
    for k, v in log.totals(cli_groups).items():
        m[f"spark.{k}"] = v
    m["spark.driver_gap_s"] = log.driver_gap_s(marks["ready_ms"], marks["end_ms"])

    plugins: dict[str, list[str]] = {}
    for t, p in tracer.table_plugin.items():
        plugins.setdefault(p, []).append(t)
    for p, tables in sorted(plugins.items()):
        key = "plans." + p.replace("-", "_")
        m[f"{key}.busy_s"] = sum(tracer.table_s.get(t, 0.0) for t in tables)
        m[f"{key}.rows_out"] = sum(_rows(os.path.join(cli_out, t)) for t in tables)
        m[f"{key}.jobs"] = log.totals({f"table.{t}" for t in tables})["jobs"]
    m["plans.registry.fanout.wall_s"] = tracer.fanout_s
    m["plans.registry.fanout.concurrency"] = sum(tracer.table_s.values()) / tracer.fanout_s
    with open(out_path, "w") as f:
        json.dump({"metrics": m, "plans": plans}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
