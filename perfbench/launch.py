"""Run ``python -m cometbft_log_etl_spark`` unchanged, with timestamps.

    python3 perfbench/launch.py TIMINGS_JSON -- <CLI arguments>

The package's ``__main__`` module runs through ``runpy`` exactly as
``python -m`` would run it. From outside the package this wrapper notes
the moment the first ``SparkSession`` is ready (``getOrCreate`` returns)
and the moment ``main`` returns, with the CPU seconds of this process
tree (the Spark JVM and its Python workers) at both points,
and writes them to TIMINGS_JSON. Times are ``time.monotonic()``, which
is system-wide on Linux, so the parent can subtract its own spawn time.
"""

from __future__ import annotations

import json
import os
import runpy
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_module(cli_args: list[str], on_ready) -> tuple[int, dict]:
    """Run the package's ``__main__`` as ``python -m`` would, with
    ``cli_args``. ``on_ready(spark, marks)`` runs once, when the first
    session is ready. Returns the exit code and the marks: ``ready`` and
    ``end`` (monotonic seconds) and ``ready_ms`` and ``end_ms`` (epoch
    milliseconds, the event log's clock)."""
    from pyspark.sql import SparkSession

    marks: dict = {}
    get_or_create = SparkSession.Builder.getOrCreate

    def timed_get_or_create(self):
        spark = get_or_create(self)
        if "ready" not in marks:
            marks["ready"], marks["ready_ms"] = time.monotonic(), time.time() * 1e3
            on_ready(spark, marks)
        return spark

    SparkSession.Builder.getOrCreate = timed_get_or_create
    sys.argv = ["cometbft_log_etl_spark", *cli_args]
    code = 0
    try:
        runpy.run_module("cometbft_log_etl_spark", run_name="__main__", alter_sys=True)
    except SystemExit as exc:
        code = 0 if exc.code is None else exc.code if isinstance(exc.code, int) else 1
    finally:
        SparkSession.Builder.getOrCreate = get_or_create
    marks["end"], marks["end_ms"] = time.monotonic(), time.time() * 1e3
    return code, marks


def main() -> int:
    out_path, sep, *cli_args = sys.argv[1:]
    if sep != "--":
        raise SystemExit("usage: launch.py TIMINGS_JSON -- <CLI arguments>")
    sys.path.insert(0, REPO)
    # utime + stime of this process and its live descendants (the JVM and
    # its Python workers); ticks do not advance under hypervisor steal
    from tools.bench_etl import _cpu_tree_seconds

    def note_cpu(spark, marks):
        marks["cpu_ready"] = _cpu_tree_seconds(os.getpid())

    code, marks = run_module(cli_args, note_cpu)
    marks["cpu_end"] = _cpu_tree_seconds(os.getpid())
    marks["exit_code"] = code
    with open(out_path, "w") as f:
        json.dump(marks, f)
    return code


if __name__ == "__main__":
    raise SystemExit(main())
