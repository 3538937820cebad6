"""TABLE upsert materialization: latest record per key.

ksqlDB semantics being replicated: "players will be inserted in the table
if they have a new key or they will be updated if a new record is inserted
in the topic with the same key" (/root/reference/README.md:92), and
LATEST_BY_OFFSET (/root/reference/files/ksqldb-cli/all.sql:136-137).

Spark-first design: ``max_by(struct(cols), order_col)`` — a single
partial+final hash aggregation (one shuffle on the key, map-side combine
does most of the work). This beats the window-function formulation
(row_number over partitionBy ... = 1), which sorts every partition;
max_by only tracks a running max per key. At 100 TB the agg formulation
is the difference between a sort-based exchange and a streaming combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_by_key(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Materialize upsert state: the latest row per key, ordered by
    ``order_col`` (the Kafka-offset analog).

    Returns a DataFrame with the same schema/column order as ``df``.
    """
    if not key_cols:
        raise ValueError("latest_by_key requires at least one key column")
    value_cols = [c for c in df.columns if c not in key_cols]
    packed = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*value_cols), F.col(order_col)).alias("__latest")
    )
    return packed.select(
        *key_cols, *[F.col(f"__latest.{c}").alias(c) for c in value_cols]
    ).select(*df.columns)
