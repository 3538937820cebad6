"""Streaming TABLE upsert state as a JVM keyed aggregate.

The reference's TABLE is keyed upsert state over a changelog topic:
"players will be inserted in the table if they have a new key or they
will be updated if a new record is inserted in the topic with the same
key" (`/root/reference/README.md:92`), with per-key updates pushed
continuously to subscribers (`README.md:115-117`).

The batch materialization of that state is ``max_by(struct, offset)``
(:mod:`ksql_query_tutorial_spark.operators.upsert`); this module is the
streaming form: per-key state that lives across micro-batches and
emits a key's latest row only when a record of the current batch
becomes it.

Emission rule. Each record is stamped with its micro-batch timestamp
(``current_timestamp()`` is fixed per micro-batch in a stream) and the
state keeps, per key, the largest ``(offset, batch timestamp, other
columns)`` struct. A key is emitted in a batch iff its winner carries
that batch's timestamp, i.e. iff the batch held a record whose offset
is >= the stored one. So an insert or an update emits, a replay of the
stored offset re-emits (the later batch wins the tie), and a batch
whose records for a key are all stale emits nothing for that key: a
late record never regresses the table.

Caveats:

- two micro-batches that share a millisecond timestamp cannot be told
  apart, so a batch holding only stale records for a key that the
  previous batch (same millisecond) updated re-emits the unchanged row;
  the table's content is still right.
- the state schema is that of the aggregate's buffer, so a checkpoint
  written by the earlier ``applyInPandasWithState`` form of this query
  cannot be resumed; start such a query from a fresh checkpoint.

Scale design: the state is one row per key in Spark's state store,
partitioned by the grouping key like any keyed aggregation. The plan is
JVM only: no Python worker, no Arrow round trip per key group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upsert_table_stream(
    stream: DataFrame, key_cols: list[str], order_col: str
) -> DataFrame:
    """Maintain latest-row-per-key state over a stream; emit a key's row
    whenever a record of the current micro-batch becomes its latest
    (KTable changelog semantics).

    ``order_col`` is the offset analog: a record only replaces the
    state row when its offset is >= the stored one (late, stale records
    are suppressed; they would regress the table). Output schema ==
    input schema. Use ``outputMode("update")`` downstream.
    """
    cols = stream.columns
    others = [c for c in cols if c not in key_cols and c != order_col]
    # current_timestamp() is projected before the aggregate: Spark
    # rejects a non-deterministic expression in an aggregate argument
    latest = F.max(F.struct(order_col, "__batch", *others)).alias("__latest")
    return (
        stream.withColumn("__batch", F.current_timestamp())
        .groupBy(*key_cols)
        .agg(latest)
        .where(F.col("__latest.__batch") == F.current_timestamp())
        .select(*[c if c in key_cols else F.col(f"__latest.{c}").alias(c) for c in cols])
    )
