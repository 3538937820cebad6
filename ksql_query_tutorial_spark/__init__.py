"""ksql_query_tutorial_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query/data-processing capabilities of
the ``Programming-with-Mati/ksql-query-tutorial`` reference (a ksqlDB
0.15.0 streaming-SQL tutorial: ``README.md`` + ``files/ksqldb-cli/all.sql``)
on Apache Spark: DataFrame/SQL for the logical plan, Catalyst/Tungsten for
physical execution, Structured Streaming for the STREAM/TABLE duality.

Layout
------
- ``session``    — SparkSession factory + ``EngineSession`` (catalog filled
  by KSQL DDL, persistent queries, admin)
- ``cache``      — session-scoped registry for operator-pinned blocks:
  operators ``cache.pin()`` return-path persists (postings, sketches,
  edge lists); long-lived sessions call ``cache.release()`` between
  queries to reclaim them (batch harnesses that ``clearCache()`` need
  nothing)
- ``tables``     — test-data loaders (driver parquet fixtures)
- ``queries``    — the declared query catalog (SURVEY.md §2.8 + extensions)
- ``oracles``    — DuckDB-dialect oracle SQL for every declared query
- ``functions``  — serde (the JSON key/value sink layout)
- ``operators``  — upsert, dedup, similarity, text analysis, multimodal
- ``sources``    — incrementing JDBC ingest, z-order file layout
- ``streaming``  — replay harness, persistent queries, TABLE upsert
  state, telemetry, exactly-once sinks
- ``ksql``       — KSQL dialect front-end (run the tutorial's SQL verbatim)
- ``plans``      — physical-plan assertions (pushdown / broadcast / codegen)
"""

from ksql_query_tutorial_spark.session import EngineSession, get_spark

__all__ = ["EngineSession", "get_spark"]
__version__ = "0.1.0"
