#!/usr/bin/env python
"""Run every catalog query against its DuckDB oracle and print a report.

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cometbft_log_etl_spark.queries import catalog
from cometbft_log_etl_spark.session import get_spark
from cometbft_log_etl_spark.testing.compare import run_compare


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    cat = catalog()
    if names:
        cat = {n: cat[n] for n in names}
    spark = get_spark(app_name="check-correctness", cpus=8)
    failures = 0
    for name, qdef in cat.items():
        t0 = time.time()
        try:
            res = run_compare(spark, qdef, sf_dir)
        except Exception as exc:  # noqa: BLE001
            print(f"[ERR ] {name}: {type(exc).__name__}: {exc}")
            failures += 1
            continue
        print(f"{res}  ({time.time() - t0:.1f}s)")
        failures += 0 if res.ok else 1
    print(f"\n{len(cat) - failures}/{len(cat)} queries match at {sf_dir}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
