"""The query registry: every query is registered once, next to its
definition, and ``__spark_entry__`` and ``bench.py`` read it from here.

    register("weekly_counts", q_weekly_counts, ORACLE_WEEKLY_COUNTS)

``oracle`` is the DuckDB SQL that must reproduce the query's answer, a
zero-argument function that builds that SQL on first use (for oracles too
large to build at import), or None when the query has no exact oracle.
``bench=False`` keeps the query out of the ``bench.py`` headline suite.
Registering a name twice raises.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from typing import TYPE_CHECKING, NamedTuple

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

Builder = Callable[["SparkSession", str], "DataFrame"]
Oracle = str | Callable[[], str] | None


class Query(NamedTuple):
    builder: Builder
    oracle: Oracle
    bench: bool


_QUERIES: dict[str, Query] = {}


def register(
    name: str, builder: Builder, oracle: Oracle = None, *, bench: bool = True
) -> None:
    if name in _QUERIES:
        raise ValueError(
            f"query {name!r} is already registered by "
            f"{_QUERIES[name].builder.__module__}"
        )
    _QUERIES[name] = Query(builder, oracle, bench)


def _load() -> dict[str, Query]:
    """Import every ``queries*`` module of the package; importing one runs
    its ``register`` calls."""
    import fink_science_spark as pkg

    for mod in pkgutil.iter_modules(pkg.__path__):
        if mod.name.startswith("queries"):
            importlib.import_module(f"{pkg.__name__}.{mod.name}")
    return _QUERIES


def queries() -> dict[str, Builder]:
    return {name: q.builder for name, q in _load().items()}


def oracle_sql() -> dict[str, str]:
    out = {}
    for name, q in _load().items():
        if callable(q.oracle):
            q = _QUERIES[name] = q._replace(oracle=q.oracle())
        if q.oracle is not None:
            out[name] = q.oracle
    return out


def bench_names() -> list[str]:
    return [name for name, q in _load().items() if q.bench]
