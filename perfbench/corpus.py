"""Seeded log corpus: independent 4-node networks built from the test
scenario generator.

Each clone is one run of ``tests.fixtures.build_scenario`` with its own
node ids and validator addresses and a whole-day timestamp offset, all
drawn from the seed, written through ``tests.fixtures.write_logs``. The
clones therefore never share a node, and every plugin keyed by node,
peer or validator sees ``clones`` separate networks.

Ids and day offsets are drawn, then sorted and handed out in clone
order, so every ordering the program applies, by id or by time, is the
same for every seed. The program reads the whole directory as one
simulation, and some tables (the timeout analysis) order rows across
networks. Offsets are whole days, so times of day and durations are
also the same for every seed.

    python3 perfbench/corpus.py --out DIR --seed N --clones 16 --heights 30
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
from collections import Counter
from contextlib import contextmanager
from datetime import timedelta

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

MAX_DAYS = 3650


@contextmanager
def _identities(fixtures, node_ids, val_addrs, day_offset):
    saved = fixtures.NODE_IDS, fixtures.VAL_ADDRS, fixtures.BASE
    fixtures.NODE_IDS = node_ids
    fixtures.VAL_ADDRS = val_addrs
    fixtures.BASE = saved[2] + timedelta(days=day_offset)
    try:
        yield
    finally:
        fixtures.NODE_IDS, fixtures.VAL_ADDRS, fixtures.BASE = saved


def draw_identities(seed: int, clones: int, nodes: int) -> dict:
    """Node ids (40 decimal digits, case-free like the fixture ids),
    validator addresses (40 upper-case hex) and day offsets per clone."""
    rng = random.Random(seed)
    n = clones * nodes
    node_ids = sorted({"".join(rng.choice("0123456789") for _ in range(40)) for _ in range(n)})
    val_addrs = sorted({"".join(rng.choice("0123456789ABCDEF") for _ in range(40)) for _ in range(n)})
    if len(node_ids) != n or len(val_addrs) != n or len({a[:12] for a in val_addrs}) != n:
        raise ValueError(f"seed {seed}: drawn identities collide")
    days = sorted(rng.sample(range(MAX_DAYS), clones))
    return {
        "node_ids": [node_ids[c * nodes:(c + 1) * nodes] for c in range(clones)],
        "val_addrs": [val_addrs[c * nodes:(c + 1) * nodes] for c in range(clones)],
        "day_offsets": days,
    }


def build_corpus(out_dir: str, seed: int, clones: int, heights: int) -> dict:
    """Write ``clones`` independent networks into ``out_dir`` and return
    the manifest: files, lines, bytes, expected events per type, and the
    identities needed to canonicalize outputs."""
    from tests import fixtures

    ident = draw_identities(seed, clones, fixtures.N_NODES)
    os.makedirs(out_dir, exist_ok=True)
    staging = os.path.join(out_dir, ".clone")
    expected: Counter = Counter()
    lines = 0
    for c in range(clones):
        with _identities(fixtures, ident["node_ids"][c], ident["val_addrs"][c], ident["day_offsets"][c]):
            sc = fixtures.build_scenario(heights=heights)
        fixtures.write_logs(sc, staging)
        for fn in sorted(os.listdir(staging)):
            os.replace(os.path.join(staging, fn), os.path.join(out_dir, f"c{c:03d}_{fn}"))
        expected.update(sc.expected)
        lines += sum(len(v) for v in sc.lines.values())
    shutil.rmtree(staging, ignore_errors=True)
    names = sorted(f for f in os.listdir(out_dir) if f.endswith(".log"))
    return {
        "seed": seed,
        "clones": clones,
        "heights": heights,
        "files": len(names),
        "lines": lines,
        "bytes": sum(os.path.getsize(os.path.join(out_dir, f)) for f in names),
        "expected_events": dict(sorted(expected.items())),
        **ident,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--clones", type=int, default=16)
    ap.add_argument("--heights", type=int, default=30)
    args = ap.parse_args(argv)
    m = build_corpus(args.out, args.seed, args.clones, args.heights)
    print(json.dumps({k: m[k] for k in ("seed", "clones", "heights", "files", "lines", "bytes")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
