"""Operator library.

One registry for every operator entry: ``QUERIES`` maps an entry name
to its ``(spark, sf_dir) -> DataFrame`` callable and ``ORACLES`` maps
it to ANSI SQL for DuckDB over the same parquet tables. The operator
modules (and ``engine.entry_queries`` / ``streaming.entry``) fill both
through ``@register``. ``all_queries()`` / ``all_oracles()`` import
those modules and return a copy of the registry — this is what
``__spark_entry__.py`` re-exports to the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add ``fn`` to the registry as ``name`` (with its
    DuckDB ``oracle`` SQL, if any). A name may be registered once."""
    if name in QUERIES:
        raise ValueError(f"operator {name!r} is already registered")

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    from . import asof, corpus, dedup, events, graph, multimodal, relational, similarity, text, tpch  # noqa: F401
    from ..engine import entry_queries  # noqa: F401
    from ..streaming import entry  # noqa: F401


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return dict(ORACLES)
