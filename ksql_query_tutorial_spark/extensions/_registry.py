"""The extension query catalog. Each family module declares a query
once, with ``@query(oracle=...)`` on its ``(spark, sf_dir)`` builder;
the import order in ``__init__`` fixes the catalog order."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

EXTENSION_QUERIES: dict[str, Builder] = {}
EXTENSION_ORACLES: dict[str, str] = {}


def query(oracle: str | None = None) -> Callable[[Builder], Builder]:
    """Register the decorated builder under its function name, with its
    DuckDB oracle SQL (``None``: no oracle, the rows-only check)."""

    def register(build: Builder) -> Builder:
        name = build.__name__
        if name in EXTENSION_QUERIES:
            raise ValueError(f"extension query {name!r} is already registered")
        EXTENSION_QUERIES[name] = build
        if oracle is not None:
            EXTENSION_ORACLES[name] = oracle
        return build

    return register
