"""CLI entry point — the reference main() workflow on Spark.

Mirrors /root/reference/main.go:24-81 + internal/config/config.go:24-46:
`-dir` is required; `-simulation` defaults to a generated
`cometbft_sim_<ts>_<rand>` id exactly like the reference's generated
database name (internal/storage/mongo.go:99-112) — repeated runs never
clobber each other. Plugins are config-selectable — either a comma
list (`--plugins`) or the reference's YAML plugin block
(`--config config.yaml`, internal/config/config.go:48-63) — and every enabled
plugin's result tables land under <out>/<simulation>/ — the
table-per-collection layout with parquet standing in for MongoDB
(SURVEY.md §2.5 O2-O4) — and/or in MongoDB itself with `--mongo-uri`
(the reference's -mongo-uri flag; db = simulation id, collection per
family, distributed batched inserts — sinks.MongoResultSink).

    python -m cometbft_log_etl_spark \
        --dir /path/to/logs --simulation run42 \
        (--out /data/lake | --mongo-uri mongodb://host:27017) \
        [--plugins vote-latency,network-latency | --config config.yaml] \
        [--stream] [--no-strict] [--partition-by-date]

`--stream` ingests through the Structured-Streaming path (the
reference's dormant ParseStream entry) with an availableNow drain into
the lake's exactly-once file sink before the plugin fan-out — same
results, checkpointed restartable ingestion. The CLI parses arguments,
resolves the plugin list and makes one `pipeline.run_pipeline` call.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cometbft_log_etl_spark", description=__doc__)
    ap.add_argument("--dir", required=True, help="directory containing per-node NDJSON .log files")
    ap.add_argument("--simulation", default=None, help="simulation id (output namespace); generated cometbft_sim_<ts>_<rand> when omitted")
    ap.add_argument("--out", default=None, help="output lake root; tables land under <out>/<simulation>/")
    ap.add_argument("--mongo-uri", default=None, help="MongoDB URI (reference -mongo-uri); store results there, db = simulation id")
    ap.add_argument("--plugins", default=None, help="comma-separated plugin subset (default: all)")
    ap.add_argument("--config", default=None, help="YAML config path with the reference's plugins block (ignored when --plugins is given)")
    ap.add_argument("--stream", action="store_true", help="ingest via Structured Streaming (availableNow drain into the lake, exactly-once file sink) instead of the batch reader; requires --out")
    ap.add_argument("--no-strict", action="store_true", help="tolerate files without identity lines")
    ap.add_argument("--with-rejects", action="store_true", help="also emit the per-file parse-drop counters table")
    ap.add_argument("--partition-by-date", action="store_true", help="hive-partition events on event_date")
    args = ap.parse_args(argv)
    if not args.out and not args.mongo_uri:
        ap.error("provide an output: --out lake root and/or --mongo-uri")
    if args.stream and not args.out:
        ap.error("--stream requires --out (the lake write is the streaming materialization the plugin fan-out reads)")

    from .pipeline import generate_sim_id, run_pipeline
    from .session import get_spark

    sim_id = args.simulation or generate_sim_id()
    spark = get_spark(app_name=f"cometbft-log-etl-{sim_id}")
    if args.plugins:
        enabled = args.plugins.split(",")
    else:
        from .config import enabled_plugin_names

        enabled = enabled_plugin_names(args.config)

    t0 = time.time()
    results = run_pipeline(
        spark,
        args.dir,
        out_dir=args.out,
        plugins=enabled,
        strict=not args.no_strict,
        sim_id=sim_id,
        with_rejects=args.with_rejects,
        mongo_uri=args.mongo_uri,
        stream=args.stream,
        partition_by_date=args.partition_by_date,
    )
    dests = [f"{args.out.rstrip('/')}/{sim_id}"] if args.out else []
    if args.mongo_uri:
        dests.append(f"{args.mongo_uri}/{sim_id}")
    print(
        f"wrote {len(results)} tables to {' and '.join(dests)} in {time.time() - t0:.1f}s",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
