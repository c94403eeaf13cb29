"""Query registry: every implemented operator exposed as a named query.

Each entry pairs a PySpark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent DuckDB SQL oracle (``None`` for genuinely non-SQL-expressible ops,
which the driver checks rows-only). Column names/aliases are identical on both
sides; computed doubles are rounded at the same sites so value hashes match.
``all_queries()`` and ``all_oracles()`` return the entries in registration
order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    _QUERIES[name] = fn
    if oracle is not None:
        _ORACLES[name] = oracle


def all_queries() -> dict[str, QueryFn]:
    _load()
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    _load()
    return dict(_ORACLES)


_LOADED = False


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    from . import (  # noqa: F401  (self-registering)
        core, cxc, text, vector, events, media, sqltext, extras, tpch,
        corpus,
    )
    _LOADED = True
