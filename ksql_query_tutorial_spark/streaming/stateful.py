"""Custom stateful streaming operators via ``applyInPandasWithState``.

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


def running_distinct_count_stream(
    stream: DataFrame, key_cols: list[str], distinct_col: str
) -> DataFrame:
    """Exact COUNT_DISTINCT per key over a stream — the A4 capability
    Spark's built-in streaming aggregation refuses in update mode
    (SURVEY.md §7.4.3).

    State = the per-key set of distinct values seen (stored as a sorted
    list). Emits ``(key_cols..., n_distinct)`` when the count grows.
    Bounded state: exact distinct-count state is O(cardinality) by
    definition; at 100 TB use approx_count_distinct (HLL) instead and
    keep this operator for bounded-cardinality columns.
    """
    from pyspark.sql import types as T

    out_fields = [stream.schema[k] for k in key_cols]
    out_schema = T.StructType(out_fields + [T.StructField("n_distinct", T.LongType())])
    state_schema = T.StructType(
        [T.StructField("seen", T.ArrayType(stream.schema[distinct_col].dataType))]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen = set(state.get[0]) if state.exists else set()
        before = len(seen)
        for pdf in pdfs:
            seen.update(pdf[distinct_col].dropna().tolist())
        if len(seen) > before or not state.exists:
            state.update((sorted(seen),))
            yield pd.DataFrame([[*key, len(seen)]],
                               columns=[*key_cols, "n_distinct"])

    return (
        stream.groupBy(*key_cols)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    within_watermark_col: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication: emit only the FIRST record per
    key across micro-batches — the streaming twin of the batch
    ``dedup_exact`` keeper selection (key on a content hash to dedup
    by content rather than id).

    Spark-first: this IS the built-in ``dropDuplicates`` stateful
    operator — one marker row per key in the state store (RocksDB on a
    cluster), append-mode emission on first sight, no custom Python
    state. Its state grows with the distinct-key universe, which is
    unbounded on an infinite stream; pass ``within_watermark_col`` to
    switch to ``dropDuplicatesWithinWatermark`` (Spark 3.5+), which
    expires marker state once the watermark passes a key's event time
    — the 100 TB shape: state bounded by keys-per-delay-window, the
    exactness contract weakened to "no duplicates within ``delay`` of
    each other" (a re-crawl months later re-emits, which is usually
    the wanted semantics for continuous corpus ingestion).
    """
    if within_watermark_col is not None:
        return stream.withWatermark(
            within_watermark_col, delay
        ).dropDuplicatesWithinWatermark(key_cols)
    return stream.dropDuplicates(key_cols)


def cusum_stream(
    stream: DataFrame,
    mu: float,
    kappa: float,
    alarm_h: float,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming one-sided CUSUM per event type with FIXED control
    parameters — the in-stream half of ``analytics.cusum_drift``. In
    production the (μ, κ, h) come from a training window; the batch
    twin estimates them corpus-wide, which is exactly what a stream
    cannot do, so here they are inputs.

    Hour-close discipline: an hour's count folds into the recursion
    ``S = max(0, S + (c − μ − κ))`` only when a LATER hour arrives for
    the same key (the watermark-close idea expressed in user state);
    the newest hour stays pending in state, and hours arriving after
    their fold are dropped as late. State per key is a constant-size
    tuple (pending hour/count, S, max S, alarm counters) — O(1), not
    O(history).

    Emits per key per micro-batch (update mode): ``event_type,
    n_hours, cusum, max_cusum, n_alarm_hours, first_alarm_hour``
    (the folded-hours view; matches the batch twin once every hour
    but the pending one has folded).
    """
    from pyspark.sql import functions as F  # noqa: F401  (schema only)
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            stream.schema[type_col],
            T.StructField("n_hours", T.LongType()),
            T.StructField("cusum", T.DoubleType()),
            T.StructField("max_cusum", T.DoubleType()),
            T.StructField("n_alarm_hours", T.LongType()),
            T.StructField("first_alarm_hour", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("pending_hour", T.LongType()),
            T.StructField("pending_count", T.LongType()),
            T.StructField("n_hours", T.LongType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("smax", T.DoubleType()),
            T.StructField("n_alarms", T.LongType()),
            T.StructField("first_alarm", T.LongType()),
            T.StructField("folded_until", T.LongType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (ph, pc, n_hours, s, smax, n_alarms, first,
             folded_until) = state.get
        else:
            ph, pc, n_hours, s, smax, n_alarms, first, folded_until = (
                None, 0, 0, 0.0, 0.0, 0, -1, -1,
            )
        counts: dict[int, int] = {}
        for pdf in pdfs:
            hours = (
                pdf[ts_col].astype("datetime64[us]").astype("int64")
                // 3_600_000_000
            )
            for h, c in hours.value_counts().items():
                counts[int(h)] = counts.get(int(h), 0) + int(c)
        if ph is not None:
            counts[ph] = counts.get(ph, 0) + pc
        # drop hours that arrive after their fold already happened
        counts = {h: c for h, c in counts.items() if h > folded_until}
        if not counts:
            return
        newest = max(counts)
        for h in sorted(counts):
            if h == newest:
                break
            folded_until = h
            s = max(0.0, s + (counts[h] - mu - kappa))
            smax = max(smax, s)
            n_hours += 1
            if s > alarm_h:
                n_alarms += 1
                if first < 0:
                    first = h
        state.update(
            (newest, counts[newest], n_hours, s, smax, n_alarms, first,
             folded_until)
        )
        yield pd.DataFrame(
            [[*key, n_hours, s, smax, n_alarms, first]],
            columns=[
                type_col, "n_hours", "cusum", "max_cusum",
                "n_alarm_hours", "first_alarm_hour",
            ],
        )

    return stream.groupBy(type_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
