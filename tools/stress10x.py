#!/usr/bin/env python
"""Scale-stress harness: warm 1x-vs-10x wall-time ratios for named
catalog queries over an id-shifted 10x union of one table
(documents by default; --table orders/events for those families).

This formalizes the recipe the round ledgers cite (COVERAGE.md stress
rows): build /tmp/stress10x once (10 copies of the chosen table with
ids shifted by 10M per copy — disjoint ids, identical value
distributions), then min-of-N warm timings at both scales. A
super-linear ratio at 10x is a plan bug (corpus-derived state growing
into a broadcast/collect, an uncapped pair expansion), not noise —
this caught q39's corpus-growing centroid set in round 6 and q106's
1-2-task single-file scan narrowness in round 11.

Usage:
    python tools/stress10x.py q106_perplexity_bands q71_bloom_screen
    python tools/stress10x.py --sf-dir /root/testdata/sf0.1 --runs 4 q55_minhash_lsh
    python tools/stress10x.py --table orders q81_ntile_deciles

Only the chosen table is multiplied; queries over other tables time
identical inputs at both labels and should print ~1.0x (a useful
no-op control).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SHIFT = 10_000_000
_COPIES = 10


# table -> the unique id column shifted per copy so the 10x union has
# disjoint ids but identical value distributions
_ID_COLS = {
    "documents": "doc_id",
    "orders": "o_orderkey",
    "events": "event_id",
    # vec_id shifts by 10M per copy: % 10 is preserved (10M % 10 == 0)
    # so the incremental tiers' history/batch split holds per copy,
    # while % 23 seed candidacy rotates — harmless for a FIXED-k fit
    "embeddings": "vec_id",
}


def build_corpus(sf_dir: str, out: str, table: str = "documents") -> str:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    marker = os.path.join(out, ".built_from")
    stamp = f"{sf_dir}\n{table}"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return out
    # marker mismatch -> REBUILD EVERY table: an if-not-exists copy of
    # the siblings would leave the previous corpus's tables next to the
    # new documents and then stamp the marker as if they matched
    # (round-11 review) — a silent mixed corpus for multi-table queries
    for f in os.listdir(out):
        if f.endswith(".parquet"):
            os.remove(os.path.join(out, f))
    src = os.path.join(sf_dir, f"{table}.parquet")
    tab = pq.read_table(src)
    idx = tab.schema.get_field_index(_ID_COLS[table])
    parts = [
        tab.set_column(idx, _ID_COLS[table], pc.add(tab.column(_ID_COLS[table]), i * _SHIFT))
        for i in range(_COPIES)
    ]
    pq.write_table(pa.concat_tables(parts), os.path.join(out, f"{table}.parquet"))
    # other tables pass through unchanged so every query can run
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet") and f != f"{table}.parquet":
            pq.write_table(
                pq.read_table(os.path.join(sf_dir, f)), os.path.join(out, f)
            )
    with open(marker, "w") as fh:
        fh.write(stamp)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default="/tmp/stress10x")
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument(
        "--table",
        default="documents",
        choices=sorted(_ID_COLS),
        help="which table the 10x union multiplies (default: documents)",
    )
    args = ap.parse_args()

    big = build_corpus(args.sf_dir, args.out, args.table)

    from cometbft_log_etl_spark.queries import catalog
    from cometbft_log_etl_spark.session import (
        get_spark,
        persistent_rdd_ids,
        release_new_persists,
    )

    spark = get_spark(app_name="stress10x", driver_memory="48g")
    cat = catalog()
    bad = [q for q in args.queries if q not in cat]
    if bad:
        print(f"unknown queries: {bad}", file=sys.stderr)
        return 2
    rc = 0
    for q in args.queries:
        mins = {}
        for label, d in (("1x", args.sf_dir), ("10x", big)):
            times = []
            for _ in range(args.runs):
                before = persistent_rdd_ids(spark)
                t0 = time.time()
                try:
                    cat[q].fn(spark, d).collect()
                finally:
                    release_new_persists(spark, before)
                times.append(time.time() - t0)
            mins[label] = min(times)
        ratio = mins["10x"] / mins["1x"] if mins["1x"] else float("inf")
        # 10x data: <4x = the distribution/model-bounded work saturates
        # (the shape most tiers aim for); 4-12x = near-linear, correct
        # for per-document-dominated map work whose 1x run under-fills
        # the cores; >=12x = genuinely super-linear in the data — a
        # plan bug (corpus-derived state in a broadcast/collect, an
        # uncapped pair expansion: q39's round-6 centroid bug was 32x)
        if ratio < 4.0:
            verdict = "saturating"
        elif ratio < 12.0:
            verdict = "near-linear"
        else:
            verdict = "SUPER-LINEAR"
            rc = 1
        print(
            f"{q}: 1x {mins['1x']:.3f}s  10x {mins['10x']:.3f}s  "
            f"ratio {ratio:.2f}x  [{verdict}]"
        )
    return rc


if __name__ == "__main__":
    sys.exit(main())
