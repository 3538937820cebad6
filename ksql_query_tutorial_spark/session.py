"""Engine session: SparkSession factory + collection catalog.

The reference's engine session is a ksqlDB server (`docker-compose.yml:32-44`
in /root/reference) holding a metastore of STREAMs/TABLEs over Kafka topics.
Ours is a thin layer over ``SparkSession``: the catalog maps collection names
to registered temp views. Collections are created only by KSQL statements
(:meth:`EngineSession.ksql`, the CREATE STREAM / CREATE TABLE surface of
`files/ksqldb-cli/all.sql:20-43`), so a TABLE in the catalog is always its
upsert state: one row per PRIMARY KEY.

Scale notes (100 TB target):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace the reference's manual
  co-partitioning discipline (`README.md:362-365`).
- ``spark.sql.shuffle.partitions`` defaults to the local core count for
  tests; on a real cluster leave AQE to coalesce from a high initial count.
  Streaming state is the exception: a persistent query's state runs at
  its sink collection's declared ``partitions`` (default 1), fixed in
  its checkpoint (``streaming.persistent``).
- Arrow enabled so any Pandas-UDF path is vectorized, never per-row.
- Driver-local rows (KSQL topic views, learned BPE rules, centroid and
  threshold grids) become DataFrames only through :func:`local_frame`,
  which ships them as one Arrow table: Spark plans a JVM
  ``LocalTableScan`` with exact size statistics instead of a scan over a
  Python-fed RDD, which starts a Python worker per partition on every
  read.
- Streaming checkpoint writes (a few small files per trigger) go
  through the Hadoop ``FileSystem`` checkpoint manager. The default
  ``FileContext`` one forks ``readlink`` for each exists/rename/delete
  on a local path when native libhadoop is absent, and those forks set
  much of a small trigger's fixed cost.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _make_type_verifier


def get_spark(
    app_name: str = "ksql_query_tutorial_spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    Local parallelism and the shuffle partition count are ``cpus``,
    else ``SPARK_GRAFT_CPUS`` (driver contract), else this machine's
    core count.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Write streaming checkpoints through Hadoop FileSystem. The
        # default FileContext manager checks exists/rename/delete on a
        # file: path with getFileLinkStatus, which forks `readlink` per
        # call without native libhadoop, several times every trigger.
        # Caveat: the no-overwrite rename becomes check-then-rename, so
        # two processes writing one checkpoint directory could race;
        # Spark already refuses a second active run of one query in a
        # session.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # local mode: driver == executor, so shuffles, cached blocks,
        # and checkpoint blocks all share this one heap. 16g showed
        # multi-second full-GC pauses mid-query (2-3x run-to-run
        # variance on the shingle-dedup family); 48g removes them on
        # the 128 GiB test host. Cluster deployments size executors
        # instead and can ignore this knob.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A DataFrame over driver-local ``rows`` (tuples in the column order
    of the DDL ``schema``), built through Arrow.

    Spark plans it as a ``LocalTableScan`` with exact size statistics:
    the scan runs in the JVM, and a join against it is planned as a
    broadcast up front. The list form of ``createDataFrame`` instead
    plans a ``Scan ExistingRDD`` over a Python-fed RDD, which starts a
    Python worker per partition on every scan. Values are checked
    against the schema as that form checks them (a str in an INT
    column raises ``TypeError``); a naive datetime is taken as UTC,
    never as a time in the Python process's local zone.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    verify = _make_type_verifier(struct)
    for row in rows:
        verify(row)
    arrow = to_arrow_schema(struct)
    columns = zip(*rows) if rows else [()] * len(arrow)
    table = pa.table(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema=struct)


@dataclass
class Collection:
    """Catalog entry for a STREAM or TABLE.

    Mirrors the reference's collection DDL surface: a name, a declared
    schema, a key (plain key for STREAMs, PRIMARY KEY for TABLEs —
    `README.md:170` vs `README.md:79`), and source properties (topic,
    format, partitions — `all.sql:26-30`). ``partitions`` defaults to the
    reference's declared 1; a persistent query started under the
    collection's name runs its state at that count.
    """

    name: str
    kind: str  # "STREAM" | "TABLE"
    key_cols: tuple[str, ...] = ()
    value_format: str = "JSON"
    partitions: int = 1
    topic: str | None = None
    properties: dict[str, str] = field(default_factory=dict)


class EngineSession:
    """The engine's top-level handle: catalog + KSQL/SQL entry points.

    ksqlDB analog: the server's metastore + statement endpoint
    (`/root/reference/README.md:32`, server at `docker-compose.yml:32-44`).
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self.catalog: dict[str, Collection] = {}
        # KSQL front-end state (ksql/engine.py): topic -> ordered
        # records, SET'd properties, connector name -> props
        self.topics: dict[str, list[dict]] = {}
        self.properties: dict[str, str] = {}
        self.connectors: dict[str, dict[str, str]] = {}
        # name -> running StreamingQuery (persistent queries, §3.3)
        self.persistent_queries: dict[str, object] = {}
        # session-wide telemetry listener (enable_metrics), off by default
        self._progress_log = None

    # ---------------------------------------------------------------- query
    def sql(self, query: str) -> DataFrame:
        """Spark SQL passthrough (the engine's query endpoint)."""
        return self.spark.sql(query)

    def ksql(self, statement: str) -> object:
        """Execute a statement written in the reference's KSQL dialect."""
        from ksql_query_tutorial_spark.ksql.engine import execute

        return execute(self, statement)

    # ---------------------------------------------------------------- admin
    def show_streams(self) -> list[str]:
        """SHOW STREAMS (`SURVEY.md` §2.7 M3)."""
        return sorted(n for n, c in self.catalog.items() if c.kind == "STREAM")

    def show_tables(self) -> list[str]:
        """SHOW TABLES (`SURVEY.md` §2.7 M3)."""
        return sorted(n for n, c in self.catalog.items() if c.kind == "TABLE")

    def show_queries(self) -> list[str]:
        """SHOW QUERIES: running persistent queries (`README.md:310`)."""
        return sorted(self.persistent_queries)

    def enable_metrics(self):
        """Attach the session-wide streaming telemetry listener
        (streaming/observe.ProgressLog): every persistent query started
        AFTER this call reports per-micro-batch input volume, watermark,
        trigger layer timings, state-operator sizes and any ``observe``
        SLI sets via :func:`query_metrics` — the
        engine-surface read-out of the reference's console-consumer
        inspection loop (`README.md:333-351`), as machine telemetry.
        Idempotent; returns the listener."""
        if self._progress_log is None:
            from ksql_query_tutorial_spark.streaming.observe import (
                ProgressLog,
            )

            self._progress_log = ProgressLog()
            self.spark.streams.addListener(self._progress_log)
        return self._progress_log

    def disable_metrics(self) -> None:
        """Detach the telemetry listener (listeners are process-wide in
        Spark — a long-lived host detaches between engine sessions)."""
        if self._progress_log is not None:
            self.spark.streams.removeListener(self._progress_log)
            self._progress_log = None

    def query_metrics(self, name: str) -> list[dict]:
        """Per-micro-batch telemetry records for a persistent query
        (requires :func:`enable_metrics` before the query started)."""
        if self._progress_log is None:
            raise ValueError(
                "metrics not enabled — call enable_metrics() before "
                "starting the query"
            )
        q = self.persistent_queries.get(name)
        if q is None:
            raise KeyError(name)
        qid = str(q.id)
        return [b for b in self._progress_log.batches if b["id"] == qid]

    def terminate(self, name: str) -> None:
        """TERMINATE a persistent query."""
        q = self.persistent_queries.pop(name, None)
        if q is not None and hasattr(q, "stop"):
            q.stop()
