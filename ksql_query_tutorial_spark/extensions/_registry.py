"""The extension query catalog. Each family module declares a query
once: with ``@query(oracle=...)`` on its ``(spark, sf_dir)`` builder, or
as one ``CREATE TABLE|STREAM name AS SELECT`` of a KSQL script registered
by :func:`script`. The import order in ``__init__`` fixes the catalog
order."""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ksql_query_tutorial_spark.ksql import dialect
from ksql_query_tutorial_spark.queries import compiled

Builder = Callable[[SparkSession, str], DataFrame]

EXTENSION_QUERIES: dict[str, Builder] = {}
EXTENSION_ORACLES: dict[str, str] = {}
# The SELECT of each script query, by name, as the scripts declare it.
SCRIPT_SELECTS: dict[str, str] = {}


def _register(name: str, build: Builder, oracle: str | None) -> None:
    if name in EXTENSION_QUERIES:
        raise ValueError(f"extension query {name!r} is already registered")
    EXTENSION_QUERIES[name] = build
    if oracle is not None:
        EXTENSION_ORACLES[name] = oracle


def query(oracle: str | None = None) -> Callable[[Builder], Builder]:
    """Register the decorated builder under its function name, with its
    DuckDB oracle SQL (``None``: no oracle, the rows-only check)."""

    def register(build: Builder) -> Builder:
        _register(build.__name__, build, oracle)
        return build

    return register


def script(path: Path, oracles: dict[str, str]) -> None:
    """Register each CSAS/CTAS of the KSQL script at ``path`` under its
    collection name, compiled over the fixture tables by
    ``queries.compiled``, with its DuckDB oracle from ``oracles``. Every
    statement needs an oracle and every oracle a statement. Each SELECT
    is kept in ``SCRIPT_SELECTS`` under the same name."""
    selects = dialect.create_selects(path.read_text())
    unpaired = sorted(selects.keys() ^ oracles.keys())
    if unpaired:
        raise ValueError(f"{path.name}: statements and oracles do not pair: {unpaired}")
    for name, build in compiled(selects).items():
        _register(name, build, oracles[name])
    SCRIPT_SELECTS.update(selects)
