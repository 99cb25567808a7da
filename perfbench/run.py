"""The repository benchmark: the ETL command line, end to end.

    python3 perfbench/run.py --workload etl_5x --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 30 --trace 0

Each run builds a log corpus from ``--seed`` (``corpus.py``), then runs
``python -m cometbft_log_etl_spark --dir ... --out ...`` in a fresh
process (through ``launch.py``, which only adds timestamps) until
``--seconds`` have passed, at least once. Every run's output lake is
checked (``check.py``) after its clock has stopped. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics of ``layers.py``).

Environment pinned for every process (and echoed on stdout):
``SPARK_GRAFT_CPUS`` = usable cores, ``SPARK_GRAFT_DRIVER_MEM`` = 2g,
``SPARK_LOCAL_DIRS``, ``SPARK_CONF_DIR`` and every lake under
``.perfbench/`` in the checkout, which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# scale -> (clones, heights). One clone is one 4-node network: 4 files,
# about 3.2k lines at 30 heights.
SCALES = {"tiny": (1, 4), "1x": (2, 30), "5x": (10, 70)}

WORKLOADS = {
    "etl_5x": {"scale": "5x", "cli": ["--with-rejects"]},
    "etl_stream_1x": {"scale": "1x", "cli": ["--stream", "--partition-by-date"]},
}

DRIVER_MEM = "2g"
CLI_TIMEOUT_S = 170
SIM = "bench"


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def pinned_env(work: str) -> dict:
    """Environment of every Spark process this benchmark starts."""
    conf_dir = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    for d in (conf_dir, tmp, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        # keep the JVM's scratch files (hsperfdata, java.io.tmpdir) in the checkout
        f.write(f"spark.driver.extraJavaOptions -XX:-UsePerfData -Djava.io.tmpdir={tmp}\n")
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(usable_cpus()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_CONF_DIR=conf_dir,
        # the JVM spark-submit starts to build the driver's command line
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        TMPDIR=tmp,
        PYTHONPATH=ROOT,
    )
    return env


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[4]) == sid:
                        pids.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return pids


def run_session(cmd: list[str], env: dict, timeout: float) -> subprocess.CompletedProcess:
    """Run ``cmd`` in its own session and wait until every process of
    that session (the Spark JVM included) has ended."""
    p = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
    deadline = time.monotonic() + 20
    while _session_pids(p.pid):
        if time.monotonic() > deadline:
            for pid in _session_pids(p.pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
    return subprocess.CompletedProcess(cmd, p.returncode, out)


def run_cli(log_dir: str, out_dir: str, extra: list[str], env: dict, timings: str) -> dict:
    """One ``python -m cometbft_log_etl_spark`` process; its timings."""
    cmd = [sys.executable, os.path.join(HERE, "launch.py"), timings, "--",
           "--dir", log_dir, "--out", out_dir, "--simulation", SIM, *extra]
    spawn = time.monotonic()
    proc = run_session(cmd, env, CLI_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(timings):
        sys.stderr.write(proc.stdout[-4000:])
        return {"ok": False}
    with open(timings) as f:
        t = json.load(f)
    return {
        "ok": t["exit_code"] == 0,
        "setup_s": t["ready"] - spawn,
        "wall_s": t["end"] - t["ready"],
        "cpu_s": t["cpu_end"] - t["cpu_ready"],
    }


def run_traced(work: str, extra: list[str], env: dict) -> dict | None:
    """The per-layer pass (layers.py) with the event log on."""
    conf_dir = os.path.join(work, "conf_trace")
    os.makedirs(conf_dir, exist_ok=True)
    os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    shutil.copy(os.path.join(env["SPARK_CONF_DIR"], "spark-defaults.conf"), conf_dir)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "a") as f:
        f.write(
            "spark.eventLog.enabled true\n"
            f"spark.eventLog.dir file://{work}/eventlog\n"
            "spark.eventLog.compress false\n"
            "spark.eventLog.rolling.enabled false\n"
        )
    out_json = os.path.join(work, "layers.json")
    cmd = [sys.executable, os.path.join(HERE, "layers.py"), out_json, "--",
           "--dir", os.path.join(work, "logs"), "--out", os.path.join(work, "trace_out"), "--simulation", SIM, *extra]
    proc = run_session(cmd, {**env, "SPARK_CONF_DIR": conf_dir}, CLI_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(out_json):
        sys.stderr.write(proc.stdout[-4000:])
        return None
    with open(out_json) as f:
        report = json.load(f)
    print(json.dumps({"plans": report["plans"]}), flush=True)
    return report["metrics"]


def summarize(samples: list[dict], lines: int) -> dict:
    def med(key):
        return statistics.median(s[key] for s in samples)

    wall = med("wall_s")
    return {
        "setup_s": {"value": med("setup_s"), "unit": "s"},
        "wall_s": {"value": wall, "unit": "s"},
        "cpu_s": {"value": med("cpu_s"), "unit": "s"},
        "lines_per_s": {"value": lines / wall, "unit": "1/s"},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*sorted(WORKLOADS), "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        rest = ["--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        return max(main(["--workload", w, *rest]) for w in sorted(WORKLOADS))

    if not os.path.isfile(os.path.join(ROOT, "cometbft_log_etl_spark", "__main__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "fixtures.py")
    ):
        print(f"perfbench: no cometbft_log_etl_spark checkout at {ROOT}", file=sys.stderr)
        return 2

    from check import check_run, load_expected
    from corpus import build_corpus

    wl = WORKLOADS[args.workload]
    scale = wl["scale"]
    clones, heights = SCALES[scale]
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        env = pinned_env(work)
        manifest = build_corpus(os.path.join(work, "logs"), args.seed, clones, heights)
        print(json.dumps({
            "workload": args.workload, "scale": scale, "seed": args.seed, "trace": args.trace,
            "corpus": {k: manifest[k] for k in ("clones", "heights", "files", "lines", "bytes")},
            "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")},
        }), flush=True)
        expected = load_expected(scale)
        if "--with-rejects" not in wl["cli"]:
            expected.pop("parse_rejects", None)

        attempted, failures, samples = 0, [], []

        def one_run(i: int) -> dict:
            nonlocal attempted
            out = os.path.join(work, f"out{i}")
            r = run_cli(os.path.join(work, "logs"), out, wl["cli"], env, os.path.join(work, f"timings{i}.json"))
            if not r["ok"]:
                attempted += 1
                failures.append(f"run {i}: the CLI failed")
                return r
            n, bad = check_run(os.path.join(out, SIM), manifest, expected)
            attempted += n
            failures.extend(f"run {i}: {b}" for b in bad)
            shutil.rmtree(out, ignore_errors=True)
            return r

        if args.trace:
            traced = run_traced(work, wl["cli"], env)
            if traced is None:
                attempted += 1
                failures.append("traced run failed")
                metrics = {}
            else:
                n, bad = check_run(os.path.join(work, "trace_out", SIM), manifest, expected)
                attempted += n
                failures.extend(f"traced run: {b}" for b in bad)
                metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(traced.items())}
        else:
            start = time.monotonic()
            i = 0
            while i == 0 or time.monotonic() - start < args.seconds:
                r = one_run(i)
                if r["ok"]:
                    samples.append(r)
                i += 1
            metrics = summarize(samples, manifest["lines"]) if samples else {}
            print(json.dumps({"samples": len(samples), "values": {
                k: [s[k] for s in samples] for k in ("setup_s", "wall_s", "cpu_s")}}))
        for f in failures:
            print(f"FAILED {f}", file=sys.stderr)
        print(json.dumps({
            "correct": not failures and bool(metrics),
            "attempted": max(attempted, 1),
            "failed": len(failures),
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_per_s"):
        return "1/s"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes") or leaf.startswith("bytes"):
        return "bytes"
    if leaf == "concurrency":
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
