"""Declared query catalog — SURVEY.md §2.8 (Q01–Q19) + windowed extension.

The 30 tutorial queries are KSQL text, one CSAS/CTAS each in
``queries.sql``; ``TUTORIAL_QUERIES[name](spark, sf_dir)`` compiles that
SELECT with ``ksql.engine.select_over`` over the fixture tables it names.
Column names match the DuckDB oracle in
:mod:`ksql_query_tutorial_spark.oracles` exactly (the oracle compare
sorts columns by name before hashing). :func:`compiled` is the one
compile entry for every such script; the extension catalog compiles
``extensions/retail.sql`` with it too.

Scale design: the plans are declarative, so Catalyst pushes filters and
projections into the parquet scans; the bounded dims (region, nation)
broadcast by hint, while joins against sf-scaled tables are left to AQE;
aggregates are partial + final with whole-stage codegen, and no query has
a Python stage.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.ksql import dialect
from ksql_query_tutorial_spark.ksql.engine import select_over
from ksql_query_tutorial_spark.tables import TABLES, load

SCRIPT = Path(__file__).with_name("queries.sql")
SELECTS = dialect.create_selects(SCRIPT.read_text())


def frames(spark: SparkSession, sf_dir: str, select: str) -> dict[str, DataFrame]:
    """The fixture tables ``select`` reads, by name. On ``events``,
    ``__offset`` is ``event_id`` (the offset analog, FIXTURES.md §B) and
    ``ts`` carries the watermark column metadata, which marks it as the
    event time that ``select_over`` windows on; a batch ``withWatermark``
    would not do, since the analyzer drops it from a batch plan."""
    out = {}
    names = {m.group(2).lower() for m in dialect.RELATION.finditer(select)} & set(TABLES)
    for name in sorted(names):
        df = load(spark, sf_dir, name)
        if name == "events":
            df = (df.withColumn("__offset", F.col("event_id"))
                  .withMetadata("ts", {"spark.watermarkDelayMs": 0}))
        out[name] = df
    return out


def _compile(select: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    return select_over(select, **frames(spark, sf_dir, select))


def compiled(selects: dict[str, str]) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """A ``(spark, sf_dir)`` builder per SELECT of a script, by name and in
    script order: each compiles its SELECT over the fixture tables it
    names."""
    return {name: partial(_compile, select) for name, select in selects.items()}


TUTORIAL_QUERIES = compiled(SELECTS)
