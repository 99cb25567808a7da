"""Record the expected table digests of one corpus scale.

    python3 perfbench/record.py --scale 1x [--seed 0]

Runs the batch CLI (with ``--with-rejects``) once on the scale's corpus,
checks its events against the generator's bookkeeping, and stores every
other table's (rows, canonical hash) in ``expected.json``. The digests
are seed-independent (see ``check.py``); run the benchmark on other
seeds, and on ``etl_stream_1x`` for the streaming path, to confirm them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import run
from check import EXPECTED_PATH, digests, event_type_counts
from corpus import build_corpus


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--scale", required=True, choices=sorted(run.SCALES))
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args(argv)
    work = os.path.join(run.ROOT, ".perfbench", f"record-{args.scale}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        env = run.pinned_env(work)
        manifest = build_corpus(os.path.join(work, "logs"), args.seed, *run.SCALES[args.scale])
        out = os.path.join(work, "out")
        r = run.run_cli(os.path.join(work, "logs"), out, ["--with-rejects"], env, os.path.join(work, "t.json"))
        if not r["ok"]:
            raise SystemExit("the CLI failed")
        sim = os.path.join(out, run.SIM)
        if event_type_counts(sim) != manifest["expected_events"]:
            raise SystemExit("events per type differ from the generator's bookkeeping")
        recorded = {}
        if os.path.exists(EXPECTED_PATH):
            with open(EXPECTED_PATH) as f:
                recorded = json.load(f)
        recorded[args.scale] = digests(sim, manifest)
        with open(EXPECTED_PATH, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
            f.write("\n")
        print(json.dumps({"scale": args.scale, "tables": len(recorded[args.scale]), "wall_s": r["wall_s"]}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
