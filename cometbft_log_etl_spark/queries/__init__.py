"""The oracle-checkable query catalog.

Every operator capability from SURVEY.md §2.7 (plus the training-data
pipeline extensions) is exposed as a named query: a DataFrame-producing
callable ``fn(spark, sf_dir)`` and, where SQL-expressible, an equivalent
ANSI-SQL oracle string for DuckDB over the same parquet tables.

Determinism contract (so the driver's order-insensitive value hash
matches bit-for-bit between Spark and DuckDB):

- money/quantity sums go through DECIMAL (exact, associative), then cast
  to DOUBLE for a type-stable output;
- averages are ``CAST(decimal_sum AS DOUBLE) / count`` — never the
  engine's streaming ``avg`` over doubles;
- quantile thresholds are computed positionally over integer cents via
  window functions (no float interpolation at bucket boundaries);
- every computed column is explicitly aliased identically on both sides.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..session import tune_session

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # None → non-SQL-expressible; driver does rows-only check
    headline: bool = False  # include in bench.py
    tags: tuple = field(default_factory=tuple)


_REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, headline: bool = False, tags: tuple = ()):
    """Register a query under ``name``.

    The registered callable, which the decorator also returns, calls
    ``tune_session(spark)`` before building the plan. Every query thus
    plans on a tuned session (UTC session time zone, partition count,
    AQE), whether it comes from ``catalog()`` or is called directly,
    even when the caller handed over a session it built itself.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = QueryDef(name=name, fn=tuned, oracle=oracle, headline=headline, tags=tags)
        return tuned

    return deco


def _load_all() -> None:
    # Import side-effect registration; keep alphabetical for stable ordering.
    from . import bloom  # noqa: F401
    from . import budget  # noqa: F401
    from . import calibration  # noqa: F401
    from . import classifier  # noqa: F401
    from . import datapipe  # noqa: F401
    from . import dsir  # noqa: F401
    from . import events_analytics  # noqa: F401
    from . import funnel  # noqa: F401
    from . import linedup  # noqa: F401
    from . import log_pipeline  # noqa: F401
    from . import multimodal  # noqa: F401
    from . import neardup  # noqa: F401
    from . import olap  # noqa: F401
    from . import perplexity  # noqa: F401
    from . import relational  # noqa: F401
    from . import scalars  # noqa: F401
    from . import temporal  # noqa: F401
    from . import tokenizer  # noqa: F401
    from . import unigram  # noqa: F401
    from . import winnow  # noqa: F401


def catalog() -> dict[str, QueryDef]:
    _load_all()
    return dict(sorted(_REGISTRY.items()))


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in catalog().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in catalog().items() if q.oracle is not None}


def headline_queries() -> dict[str, QueryDef]:
    return {name: q for name, q in catalog().items() if q.headline}
