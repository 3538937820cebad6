"""Streaming TABLE upsert state via ``applyInPandasWithState``.

The reference's TABLE is keyed upsert state over a changelog topic:
"players will be inserted in the table if they have a new key or they
will be updated if a new record is inserted in the topic with the same
key" (`/root/reference/README.md:92`), with per-key updates pushed
continuously to subscribers (`README.md:115-117`).

The batch materialization of that state is ``max_by(struct, offset)``
(:mod:`ksql_query_tutorial_spark.operators.upsert`); THIS module is the
true streaming form — per-key state that lives across micro-batches and
emits a key's new latest row only when it changes (ksqlDB's table
changelog contract, including suppression of no-op updates from
out-of-order stale offsets).

Scale design: state is one row per key in Spark's state store (RocksDB
provider for large key spaces), partitioned by the grouping key like
any keyed aggregation — no skew beyond what the key distribution
already has. The per-batch work inside the UDF is an Arrow-batched
``idxmax`` per key group, vectorized, never per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def upsert_table_stream(
    stream: DataFrame, key_cols: list[str], order_col: str
) -> DataFrame:
    """Maintain latest-row-per-key state over a stream; emit a key's row
    whenever its latest value changes (KTable changelog semantics).

    ``order_col`` is the offset analog: a record only replaces the
    state row when its offset is >= the stored one (late, stale records
    are suppressed — they would regress the table). Output schema ==
    input schema. Use ``outputMode("update")`` downstream.
    """
    schema = stream.schema
    cols = list(schema.fieldNames())
    key_idx = [cols.index(k) for k in key_cols]
    ord_pos = cols.index(order_col)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        best = list(state.get) if state.exists else None
        changed = False
        for pdf in pdfs:
            if pdf.empty:
                continue
            # newest record in this batch for this key (vectorized)
            row = pdf.loc[pdf[order_col].idxmax()]
            incoming = [row[c] for c in cols]
            # restore the key columns (grouping may strip/reorder them)
            for i, kv in zip(key_idx, key):
                incoming[i] = kv
            if best is None or incoming[ord_pos] >= best[ord_pos]:
                best = incoming
                changed = True
        if changed and best is not None:
            state.update(tuple(best))
            yield pd.DataFrame([best], columns=cols)

    return (
        stream.groupBy(*key_cols)
        .applyInPandasWithState(
            update,
            outputStructType=schema,
            stateStructType=schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
