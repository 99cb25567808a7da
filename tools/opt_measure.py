#!/usr/bin/env python
"""Round-14 optimization measurement harness.

Times every catalog query (or a named subset) at $SPARK_GRAFT_SF_DIR
with the noop sink (guide §1.4 — eagerly computes every column of
every row, no driver collect, no output cost) and dumps
``explain("formatted")`` for each query to a plans directory.

This is a MEASUREMENT tool only: bench.py remains the driver-visible
methodology (count()-timed, min-of-K). The noop numbers here isolate
the computation for before/after comparisons inside the optimization
round; OPTIMIZATION_r15.md records both.

Usage:
    python tools/opt_measure.py <plans_dir> [suffix ...]
        [--runs N] [--sf-dir DIR] [--no-plans] [--json OUT]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cometbft_log_etl_spark.queries import catalog  # noqa: E402
from cometbft_log_etl_spark.session import (  # noqa: E402
    get_spark,
    persistent_rdd_ids,
    release_new_persists,
)


def _explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs = 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    json_out = None
    plans = True
    rest: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            runs = int(args[i + 1]); i += 2
        elif a == "--sf-dir":
            sf_dir = args[i + 1]; i += 2
        elif a == "--json":
            json_out = args[i + 1]; i += 2
        elif a == "--no-plans":
            plans = False; i += 1
        else:
            rest.append(a); i += 1
    if not rest:
        print(__doc__)
        sys.exit(2)
    plans_dir, subset = rest[0], rest[1:]
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark(app_name="opt-measure")
    cat = catalog()
    names = [
        n for n in cat
        if not subset or any(s in n for s in subset)
    ]
    out: dict[str, dict] = {}
    for name in names:
        qdef = cat[name]
        times: list[float] = []
        err = None
        try:
            # warm pass (codegen compile, JIT, parquet footers)
            snap = persistent_rdd_ids(spark)
            spark.sparkContext.setJobDescription(f"warm {name}")
            df = qdef.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            release_new_persists(spark, snap)
            for k in range(runs):
                snap = persistent_rdd_ids(spark)
                spark.sparkContext.setJobDescription(f"timed {name} #{k}")
                t0 = time.time()
                df = qdef.fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                times.append(round(time.time() - t0, 3))
                release_new_persists(spark, snap)
            if plans:
                with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                    f.write(_explain_formatted(df))
        except Exception as exc:  # noqa: BLE001 — record and continue
            err = f"{type(exc).__name__}: {exc}"
        finally:
            spark.sparkContext.setJobDescription(None)
        out[name] = {"min_sec": min(times) if times else None,
                     "runs": times, "err": err}
        print(f"{name}: {out[name]['min_sec']}s {times}"
              + (f" ERR {err}" if err else ""), flush=True)

    total = sum(v["min_sec"] for v in out.values() if v["min_sec"] is not None)
    print(f"TOTAL(min) {round(total, 3)}s over {len(out)} queries", flush=True)
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
