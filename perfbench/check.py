"""Output checks for one CLI run over a seeded corpus.

- ``events``: rows per ``event_type`` must equal the generator's
  ``Scenario.expected`` bookkeeping summed over the clones.
- every other table: row count and an order-independent content hash
  must equal the values recorded in ``expected.json`` for the corpus
  scale. The hash is taken over a canonical form that is the same for
  every seed: drawn ids become ``N<clone>.<node>`` / ``V<clone>.<node>``
  tokens, timestamps keep only their time of day (clone offsets are
  whole days), dates inside strings become ``D``, and file paths keep
  only their file name. Cells of array and map type are compared as
  multisets.

Each table is one check; ``check_run`` returns (attempted, failures).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

# Columns whose values are a function of the drawn ids in a way no
# renaming can undo: raw_hash is sha2 over protobuf bytes that embed
# validator addresses. event_date is the stream layout's partition key.
SEED_VARIANT_COLUMNS = {"raw_hash", "event_date"}

_HEX_RUN = re.compile(r"[0-9A-Fa-f]{12,}")
_DATE = re.compile(r"\d{4}-\d{2}-\d{2}")
_PATH = re.compile(r"[^\s\"',{}\[\]]*/(c\d{3}_node\d+\.log)")


class Canon:
    def __init__(self, manifest: dict):
        self.tokens: dict[str, str] = {}
        for c, (nodes, vals) in enumerate(zip(manifest["node_ids"], manifest["val_addrs"])):
            for i, (n, v) in enumerate(zip(nodes, vals)):
                self.tokens[n.upper()] = f"N{c}.{i}"
                self.tokens[v.upper()] = f"V{c}.{i}"
                self.tokens[v[:12].upper()] = f"V{c}.{i}"

    def text(self, s: str) -> str:
        s = _PATH.sub(r"\1", s)
        s = _DATE.sub("D", s)
        return _HEX_RUN.sub(lambda m: self.tokens.get(m.group(0).upper(), m.group(0)), s)

    def value(self, v):
        if isinstance(v, str):
            return self.text(v)
        if isinstance(v, dt.datetime):
            return ("t", v.hour, v.minute, v.second, v.microsecond, getattr(v, "nanosecond", 0))
        if isinstance(v, dict):
            return tuple(sorted(((k, self.value(x)) for k, x in v.items()), key=repr))
        if isinstance(v, (list, tuple)):
            return tuple(sorted((self.value(x) for x in v), key=repr))
        return v


def _canonical_column(col, canon: Canon) -> list[str]:
    if pa.types.is_timestamp(col.type):
        # time of day in the column's unit; offsets are whole days
        col = pc.subtract(col, pc.floor_temporal(col, unit="day")).cast(pa.int64())
    if pa.types.is_nested(col.type):
        return [repr(canon.value(v)) for v in col.to_pylist()]
    cache: dict = {}
    out = []
    for v in col.to_pylist():
        if v not in cache:
            cache[v] = repr(canon.value(v))
        out.append(cache[v])
    return out


def table_digest(path: str, canon: Canon) -> tuple[int, str]:
    """(rows, order-independent content hash) of one parquet table dir."""
    table = pq.read_table(path)
    cols = sorted(c for c in table.column_names if c not in SEED_VARIANT_COLUMNS)
    canonical = [_canonical_column(table.column(c), canon) for c in cols]
    rows = sorted(hashlib.sha1("\x1f".join(row).encode()).hexdigest() for row in zip(*canonical))
    h = hashlib.sha256(",".join(cols).encode())
    for r in rows:
        h.update(r.encode())
    return table.num_rows, h.hexdigest()[:16]


def event_type_counts(sim_dir: str) -> dict[str, int]:
    col = pq.read_table(os.path.join(sim_dir, "events"), columns=["event_type"]).column("event_type")
    vc = pc.value_counts(col).to_pylist()
    return {d["values"]: d["counts"] for d in vc}


def digests(sim_dir: str, manifest: dict) -> dict[str, list]:
    canon = Canon(manifest)
    return {
        name: list(table_digest(os.path.join(sim_dir, name), canon))
        for name in sorted(os.listdir(sim_dir))
        if name != "events" and not name.startswith(("_", "."))
    }


def load_expected(scale: str) -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)[scale]


def check_run(sim_dir: str, manifest: dict, expected_tables: dict) -> tuple[int, list[str]]:
    """Compare one run's output lake against the generator bookkeeping and
    the recorded table digests."""
    failures: list[str] = []
    got_events = event_type_counts(sim_dir)
    if got_events != manifest["expected_events"]:
        failures.append(f"events per type {got_events} != {manifest['expected_events']}")
    got = digests(sim_dir, manifest)
    for name, want in sorted(expected_tables.items()):
        if got.get(name) != want:
            failures.append(f"table {name}: {got.get(name)} != {want}")
    for name in sorted(set(got) - set(expected_tables)):
        failures.append(f"unexpected table {name}")
    return 1 + len(set(got) | set(expected_tables)), failures
