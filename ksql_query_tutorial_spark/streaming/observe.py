"""Streaming pipeline observability: per-micro-batch SLIs without a
second job.

The reference's operational story is console inspection of sink topics
(``README.md:333-351`` — run a consumer, eyeball the rows). At 100 TB
that becomes real telemetry: every production streaming pipeline needs
per-batch input volume, event-time freshness, and data-quality
counters, and it must get them WITHOUT a shadow aggregation reading
the stream twice. Spark's native answer is ``DataFrame.observe`` —
accumulator-backed metric expressions evaluated inline as rows flow
through the plan (zero extra scans, zero shuffles, negligible cost) —
surfaced per micro-batch in ``StreamingQueryProgress.observedMetrics``.

:class:`ProgressLog` is a ``StreamingQueryListener`` that captures
every progress event (batch id, input rows, the metric sets attached
with ``observe``, event-time watermark, per-trigger layer timings,
state-operator sizes and late-row drops, source and sink progress) into
a plain list for assertion/export. The replay tests drive it through a
real ``FileStreamSource`` run.

Scale design: ``observe`` metrics are Spark accumulators — merged on
the driver per batch, constant size, independent of partition count;
the listener is driver-side only. Nothing here adds a jobs/stage to
the query.
"""

from __future__ import annotations

from collections import deque
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener


#: per stateful operator and trigger: state size, the time spent
#: updating and committing it, the rows dropped as too late and the
#: state partition count
_STATE_FIELDS = ("operatorName", "numRowsTotal", "memoryUsedBytes",
                 "commitTimeMs", "allUpdatesTimeMs", "numRowsDroppedByWatermark",
                 "numShufflePartitions")
#: per source and trigger: what it is, what it read and how fast
_SOURCE_FIELDS = ("description", "numInputRows", "processedRowsPerSecond")


class ProgressLog(StreamingQueryListener):
    """Driver-side progress capture: one dict per micro-batch with the
    batch id, input row count, event-time watermark, every
    observed-metrics row, the trigger's layer timings (``durationMs``:
    ``getBatch``, ``queryPlanning``, ``addBatch``, ``walCommit``,
    ``triggerExecution``, ...), per state operator its row count,
    memory, update/commit times, rows dropped by the watermark and
    state partition count, per
    source its description, input rows and processing rate, and the
    sink's description — the exportable telemetry record a monitoring
    agent would ship.

    Retention is bounded: ``batches`` is a ``deque(maxlen=max_batches)``
    (default 10,000 ≈ 2.8h of a seconds-trigger stream), so a
    session-wide listener on a long-running persistent query cannot
    grow driver memory without bound — old records are evicted oldest-
    first, exactly like a metrics agent's ring buffer. A monitoring
    exporter should drain (copy + clear) within the window; tests that
    need every batch of a short replay are far under the cap.

    Usage::

        log = ProgressLog()
        spark.streams.addListener(log)
        ... run the query ...
        spark.streams.removeListener(log)
        log.batches  # deque([{"batchId": 0, "numInputRows": 2, ...}, ...])
    """

    def __init__(self, max_batches: int = 10_000) -> None:
        self.batches: deque[dict[str, Any]] = deque(maxlen=max_batches)
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802 (Spark API)
        p = event.progress
        rec: dict[str, Any] = {
            "id": str(p.id),
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "watermark": (p.eventTime or {}).get("watermark"),
            "observed": {
                name: dict(row.asDict())
                for name, row in (p.observedMetrics or {}).items()
            },
            "durationMs": dict(p.durationMs),
            "stateOperators": [
                {k: getattr(op, k) for k in _STATE_FIELDS}
                for op in p.stateOperators
            ],
            "sources": [
                {k: getattr(src, k) for k in _SOURCE_FIELDS} for src in p.sources
            ],
            "sink": p.sink.description,
        }
        self.batches.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802 (Spark API)
        self.terminated.append(str(event.id))
