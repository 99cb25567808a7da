"""O5/O6: plugin registry — named DataFrame transforms over the
normalized events stream.

Reference: pkg/pluginloader/loader.go:13-74 (Register/Init/Process/
Finalize lifecycle) and pkg/pluginsdk/interfaces.go:10-25. In Spark the
lifecycle collapses to a function `f(events_df) -> dict[table_name,
DataFrame]` that builds plans (network-latency also checkpoints its
match ledger while it builds); the single-pass fan-out (main.go:77-79)
becomes running every enabled plugin off one staged events DataFrame
and writing every result table concurrently (`two_phase_fanout`, one
concurrent map; pipeline.run_pipeline).

The default-enabled set mirrors internal/config/config.go:67-83.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

PluginFn = Callable[[DataFrame], dict[str, DataFrame]]

_PLUGINS: dict[str, PluginFn] = {}

# internal/config/config.go:71-81 default-enabled list.
DEFAULT_ENABLED = (
    "vote-latency",
    "block-parts",
    "p2p-messages",
    "consensus-steps",
    "consensus-timing",
    "validator-participation",
    "timeout-analysis",
    "tracer-events",
    "network-latency",
)


def register_plugin(name: str):
    def deco(fn: PluginFn) -> PluginFn:
        _PLUGINS[name] = fn
        return fn

    return deco


def _load_all() -> None:
    from . import (  # noqa: F401
        block_parts,
        consensus_steps,
        consensus_timing,
        network_latency,
        p2p_messages,
        timeout_analysis,
        tracer_events,
        validator_participation,
        vote_latency,
    )


def plugins() -> dict[str, PluginFn]:
    _load_all()
    return dict(_PLUGINS)


# threads that build plugin plans concurrently in run_plugins, and that
# run result-table actions concurrently in two_phase_fanout
_BUILD_WORKERS = 4
_FANOUT_WORKERS = 6


def run_plugins(events: DataFrame, enabled: list[str] | None = None) -> dict[str, DataFrame]:
    """Run each enabled plugin; returns the union of their result tables.

    An enabled-but-unregistered name is warned about and skipped, never
    fatal — the reference tolerates configured premium/custom plugins
    that aren't linked into the binary (pkg/pluginloader/loader.go:38-45).

    Plugins mostly build plans without executing them; network-latency
    also runs one job, the eager checkpoint of its match ledger. Building
    nine deep plan trees is driver-side work — hundreds of py4j
    round-trips each — so independent plugins build on a small thread
    pool (py4j releases the GIL on socket I/O), and the ledger job runs
    beside the other builds. Result ordering stays deterministic: tables
    merge in `names` order regardless of completion order.
    """
    import logging
    from concurrent.futures import ThreadPoolExecutor

    reg = plugins()
    names = list(enabled) if enabled is not None else list(DEFAULT_ENABLED)
    known = [n for n in names if n in reg]
    for name in names:
        if name not in reg:
            logging.getLogger(__name__).warning(
                "plugin %r not found in registry; continuing without it", name
            )
    with ThreadPoolExecutor(max_workers=_BUILD_WORKERS) as pool:
        built = dict(zip(known, pool.map(lambda n: reg[n](events), known)))
    out: dict[str, DataFrame] = {}
    for name in known:
        for table, df in built[name].items():
            if table in out:
                raise ValueError(f"plugin {name!r} re-emits table {table!r}")
            out[table] = df
    return out


def two_phase_fanout(tables: dict, action) -> dict:
    """Execute ``action(name, df)`` for every result table concurrently —
    Spark's scheduler interleaves the jobs across executor slots, the
    shape that keeps a wide cluster busy through many narrow stages.
    pipeline.run_pipeline writes every result table through it, so the
    CLI, the ETL bench and the plugin plan audit share one fan-out. (The
    name is kept because perfbench/layers.py wraps the function by it.)

    Returns {table: action result} in ``tables`` order. Fail-fast with
    full diagnostics: the first exception is re-raised after the pool
    drains, and every additional failure is logged rather than silently
    discarded (ThreadPoolExecutor.map would swallow them).
    """
    import logging
    from concurrent.futures import ThreadPoolExecutor

    results: dict = {}
    failures: list[tuple[str, Exception]] = []
    with ThreadPoolExecutor(max_workers=_FANOUT_WORKERS) as pool:
        futures = {n: pool.submit(action, n, df) for n, df in tables.items()}
        for n, fut in futures.items():
            try:
                results[n] = fut.result()
            except Exception as exc:  # noqa: BLE001 — collected, first re-raised
                failures.append((n, exc))
    if failures:
        for n, exc in failures[1:]:
            logging.getLogger(__name__).error("fan-out of %r also failed: %s", n, exc)
        name, exc = failures[0]
        raise RuntimeError(f"fan-out of {name!r} failed") from exc
    return results
