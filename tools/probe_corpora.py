#!/usr/bin/env python
"""Build the adversarial probe corpora and sweep the catalog on them.

Round 11 ran these as ad-hoc /tmp scripts; this makes the recipe
executable and repeatable (the stress10x precedent):

- ``giant``: sf documents plus one 20k-token EXTREME-periodic document
  ("tok{i%97}" repeating — the corpus that exposed the round-11 HOF
  O(tokens^2) class) appended into the lexicographically-first source
  so model fits (q106's LM slice) must eat it;
- ``ws``: whitespace-adversarial documents — every 7th doc gets leading
  and trailing spaces, every 5th doubles its inter-word gaps, every
  31st becomes spaces-only, one doc becomes the empty string. Exercises
  empty-token filtering and the Spark split vs DuckDB string_split
  agreement on degenerate separators.
- ``same``: every document carries the identical 60-token text — the
  round-11 one-off that binds every LSH bucket cap, collapses every
  fingerprint tier to one cluster, and degenerates every distribution
  table to a single cell.

Usage: python tools/probe_corpora.py [sf_dir] [query ...]
Builds /tmp/probe_giant and /tmp/probe_ws (documents.parquet mutated,
every other table copied verbatim) and runs the full oracle sweep on
both. Exits nonzero on any mismatch.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _build_variants(sf_dir: str) -> dict[str, str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    rows = docs.to_pylist()

    giant_text = " ".join(f"tok{i % 97}" for i in range(20_000))
    first_src = min(r["source"] for r in rows)
    giant_rows = rows + [
        {
            "doc_id": max(r["doc_id"] for r in rows) + 1,
            "text": giant_text,
            "lang": "en",
            "source": first_src,
            "n_chars": len(giant_text),
        }
    ]

    ws_rows = []
    for i, r in enumerate(rows):
        r = dict(r)
        t = r["text"]
        if t is not None:
            if i % 31 == 7:
                t = "   "
            elif i == 13:
                t = ""
            else:
                if i % 5 == 0:
                    t = t.replace(" ", "  ")
                if i % 7 == 0:
                    t = "  " + t + " "
            r["text"] = t
            r["n_chars"] = len(t)
        ws_rows.append(r)

    same_text = " ".join(f"w{i % 23}" for i in range(60))
    same_rows = [
        {**r, "text": same_text, "n_chars": len(same_text)} for r in rows
    ]

    out = {}
    for name, variant_rows in (
        ("giant", giant_rows),
        ("ws", ws_rows),
        ("same", same_rows),
    ):
        d = f"/tmp/probe_{name}"
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for f in os.listdir(sf_dir):
            if f != "documents.parquet":
                src = os.path.join(sf_dir, f)
                (shutil.copytree if os.path.isdir(src) else shutil.copy)(
                    src, os.path.join(d, f)
                )
        pq.write_table(
            pa.Table.from_pylist(variant_rows, schema=docs.schema),
            os.path.join(d, "documents.parquet"),
        )
        out[name] = d
    return out


def main() -> int:
    from cometbft_log_etl_spark.queries import catalog
    from cometbft_log_etl_spark.session import get_spark
    from cometbft_log_etl_spark.testing.compare import run_compare

    args = sys.argv[1:]
    # An EXISTING directory is the authoritative signal for a corpus
    # dir (round-12 advice: a bare relative name like 'sf0.01' has no
    # os.sep and was misread as a query name); the separator/dot
    # heuristic remains only to reject path-LIKE typos loudly instead
    # of silently falling back to the default corpus.
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    elif args and (os.sep in args[0] or args[0].startswith(".")):
        print(f"error: corpus dir {args[0]!r} does not exist", file=sys.stderr)
        return 2
    else:
        sf_dir, names = "/root/testdata/sf0.01", args
    cat = catalog()
    unknown = [n for n in names if n not in cat]
    if unknown:
        print(f"error: unknown query names {unknown}", file=sys.stderr)
        return 2
    if names:
        cat = {n: cat[n] for n in names}
    variants = _build_variants(sf_dir)
    spark = get_spark(app_name="probe-corpora", cpus=8)
    failures = 0
    for vname, vdir in variants.items():
        ok = 0
        for qname, qdef in cat.items():
            try:
                res = run_compare(spark, qdef, vdir)
            except Exception as exc:  # noqa: BLE001
                print(f"[ERR ] {vname}:{qname}: {type(exc).__name__}: {exc}")
                failures += 1
                continue
            if res.ok:
                ok += 1
            else:
                print(f"[FAIL] {vname}:{res}")
                failures += 1
        print(f"{vname}: {ok}/{len(cat)} cell-exact at {vdir}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
