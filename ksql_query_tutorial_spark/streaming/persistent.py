"""Persistent queries: the engine's CTAS/CSAS execution path.

ksqlDB semantics (/root/reference): ``CREATE TABLE ... AS SELECT`` /
``CREATE STREAM ... AS SELECT`` registers a continuously-running query
that maintains a sink topic — "new updates will be pushed to the topic"
(`README.md:310`), running independently of any client, with state in
the engine's state store (`all.sql:45-51`, `129-160`).

Spark mapping: a named, checkpointed ``StreamingQuery``:
- CSAS (stateless projection/filter) → ``outputMode("append")``
- CTAS (keyed aggregate)            → ``outputMode("update")``
- sink = any Structured Streaming sink format (``memory`` by default)
  fed the key/value record layout of functions.serde; checkpointLocation
  gives exactly-once state recovery (the analog of ksqlDB's changelogged
  RocksDB state stores): a query started again on its checkpoint
  resumes after the last committed batch, with its state. Spark's
  ``memory`` sink allows that restart only in complete mode.

Each trigger writes a few small checkpoint files: the offsets and
commits logs, the source log, one state delta file per state
partition. Their fixed cost sets much of a small trigger's latency,
so sessions from ``session.get_spark`` write them through Hadoop
``FileSystem``, which on a local path forks no ``readlink`` per file.

State partitions are declared scale, per query, as in ksqlDB, which
runs a query's state stores at its topic's partition count. A query's
state runs at the ``PARTITIONS`` of its sink collection
(``session.catalog[name].partitions``, from the statement that declared
it), else at the ``Collection`` default, 1, the count every CREATE in
the reference declares (`all.sql:26-30`). Not the session's
``spark.sql.shuffle.partitions`` (the core count): each state
partition costs every trigger its own delta and checksum files.
- The count is applied by setting ``spark.sql.shuffle.partitions`` on
  the frame's session for the ``start()`` call alone, under a lock, and
  restoring it after: Spark clones the session before ``start()``
  returns, so the running query keeps the count and the session reads
  as it was found.
- Restart: Spark writes the count into the checkpoint's offset
  metadata, and a query started again on that checkpoint keeps the
  count it was first written with, whatever its collection now
  declares.
- Caveat: a batch query planned on another thread of the same session
  *during* a ``start()`` plans at that query's count.

Output-mode selection is *by plan shape* (T1, `README.md:115-117`):
stateless stream queries emit appends; table-backed (aggregated)
queries emit per-key updates.
"""

from __future__ import annotations

import tempfile
import threading

from pyspark.sql import DataFrame

from ksql_query_tutorial_spark.functions.serde import encode_kv
from ksql_query_tutorial_spark.session import Collection

#: held while one start sets the shuffle partition count, so two starts
#: never read each other's count or restore it out of order
_START_LOCK = threading.Lock()


def is_aggregated(df: DataFrame) -> bool:
    """Plan-shape probe: does the (streaming) plan contain a stateful
    aggregate? Drives append-vs-update output-mode selection."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan


def default_output_mode(df: DataFrame) -> str:
    return "update" if is_aggregated(df) else "append"


def start_persistent_query(
    session,
    name: str,
    df: DataFrame,
    key_cols: list[str],
    sink_format: str = "memory",
    output_mode: str | None = None,
    checkpoint_dir: str | None = None,
):
    """Start a CTAS/CSAS persistent query and register it with the
    engine session (SHOW QUERIES / TERMINATE — `README.md:310`).

    The sink record layout matches the reference: key = key column
    (bare string) or composite JSON (`README.md:342,462-465`), value =
    uppercase-field JSON of the remaining columns. Its state runs at
    the ``partitions`` of the collection ``name`` (module docstring).
    """
    mode = output_mode or default_output_mode(df)
    kv = encode_kv(df, key_cols)
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix=f"ksql-spark-{name}-ckpt-")
    partitions = session.catalog.get(name, Collection).partitions
    writer = (
        kv.writeStream.outputMode(mode).queryName(name)
        .option("checkpointLocation", ckpt)
        .format(sink_format)
    )
    conf = df.sparkSession.conf
    with _START_LOCK:
        found = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", str(partitions))
        try:
            q = writer.start()
        finally:
            conf.set("spark.sql.shuffle.partitions", found)
    session.persistent_queries[name] = q
    return q
