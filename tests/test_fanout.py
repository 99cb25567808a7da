"""two_phase_fanout contract (plans/registry.py): every table's action
runs concurrently, results come back in deterministic order, fail-fast
with every additional failure logged. The action is arbitrary, so these
run without a Spark session."""

from __future__ import annotations

import threading

import pytest

from cometbft_log_etl_spark.plans.registry import two_phase_fanout


def test_order_is_preserved_under_concurrency():
    """Every table runs, and results come back in ``tables`` order even
    when the first table completes last."""
    others_done = threading.Event()
    completed: list[str] = []
    lock = threading.Lock()

    def action(name, df):
        # the first table waits until every other one has finished, so
        # completion order is never `tables` order (and a serial fan-out
        # would time out here)
        if name == "vote_latencies":
            assert others_done.wait(timeout=30)
        with lock:
            completed.append(name)
            if len(completed) == len(tables) - 1:
                others_done.set()
        return f"done:{df}"

    tables = {
        "vote_latencies": 1,
        "network_latency_measurements": 2,
        "p2p_messages": 3,
        "tracer_events": 4,
    }
    out = two_phase_fanout(tables, action)
    assert completed[-1] == "vote_latencies"
    assert list(out) == list(tables)
    assert out == {n: f"done:{v}" for n, v in tables.items()}


def test_first_failure_reraised_with_cause_and_rest_logged(caplog):
    def action(name, df):
        if name.startswith("bad"):
            raise ValueError(f"boom:{name}")
        return df

    tables = {"ok_a": 1, "bad_one": 2, "bad_two": 3, "ok_b": 4}
    with pytest.raises(RuntimeError, match="fan-out of") as exc_info:
        with caplog.at_level("ERROR"):
            two_phase_fanout(tables, action)
    # the original exception is chained, not swallowed
    assert isinstance(exc_info.value.__cause__, ValueError)
    # the OTHER failure is logged rather than silently discarded
    assert any("also failed" in r.message for r in caplog.records)
