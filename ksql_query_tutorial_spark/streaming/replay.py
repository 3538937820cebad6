"""Micro-batch replay harness: feed ordered rows through a real
Structured Streaming source, one record (or chunk) per trigger.

This is the test spine for the reference's streaming semantics
(SURVEY.md §5.3): the tutorial's INSERT sequence (`README.md:190-276`)
is replayed in order, and intermediate emissions are asserted against
the README's evolving golden outputs (`README.md:249-253` → `297-304`).

Implementation: a JSON-file source directory, one file per chunk with
strictly increasing mtimes (FileStreamSource orders by modification
time), ``maxFilesPerTrigger=1`` so each chunk is its own micro-batch;
sinks go to named in-memory tables. No Kafka broker needed — the
logical plans are identical to the Kafka path modulo the source node.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_chunks(dirpath: str, rows: Sequence[dict[str, Any]],
                 chunk_size: int = 1) -> None:
    """Write rows as ordered JSON-lines chunk files with increasing
    mtimes so the file source replays them in exactly this order."""
    os.makedirs(dirpath, exist_ok=True)
    base = time.time() - len(rows) * 2 - 10
    chunks = [rows[i:i + chunk_size] for i in range(0, len(rows), chunk_size)]
    for i, chunk in enumerate(chunks):
        path = os.path.join(dirpath, f"chunk-{i:06d}.json")
        with open(path, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (base + i, base + i))


def stream_source(spark: SparkSession, dirpath: str, schema: T.StructType,
                  files_per_trigger: int = 1) -> DataFrame:
    """An unbounded DataFrame over the chunk directory — the stand-in
    for ``readStream.format("kafka")`` + value decode."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .json(dirpath)
    )


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "update",
    with_batch_id: bool = False,
) -> "object":
    """Run a streaming DataFrame to completion into an in-memory sink
    table ``name``; returns the (stopped) StreamingQuery. Its temporary
    checkpoint is removed once the query has stopped.

    ``with_batch_id=True`` routes through ``foreachBatch`` and appends
    every per-batch emission with its batch id — the probe for
    intermediate-emission assertions (which plain memory sinks in update
    mode overwrite less predictably across engines).
    """
    ckpt = tempfile.mkdtemp(prefix="ksql-spark-ckpt-")
    writer = df.writeStream.outputMode(output_mode).option("checkpointLocation", ckpt)
    acc: list = []
    if with_batch_id:
        def collect_batch(batch_df: DataFrame, batch_id: int) -> None:
            for row in batch_df.collect():
                acc.append((batch_id, row))

        writer = writer.foreachBatch(collect_batch)
    else:
        writer = writer.format("memory").queryName(name)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    q.awaitTermination(30)
    if with_batch_id:
        # stash on the query object for the caller
        q.emissions = acc  # type: ignore[attr-defined]
    return q


def replay(
    spark: SparkSession,
    rows: Sequence[dict[str, Any]],
    schema: T.StructType,
    transform: Callable[[DataFrame], DataFrame],
    name: str,
    output_mode: str = "update",
    chunk_size: int = 1,
    with_batch_id: bool = False,
) -> "object":
    """End-to-end: rows → ordered chunks → stream → transform → memory
    sink; returns the StreamingQuery (``.emissions`` holds (batch_id,
    row) pairs when ``with_batch_id``). The chunk directory and the
    checkpoint are removed once the query has stopped."""
    d = tempfile.mkdtemp(prefix="ksql-spark-replay-")
    try:
        write_chunks(d, rows, chunk_size)
        src = stream_source(spark, d, schema)
        return run_to_memory(transform(src), name, output_mode, with_batch_id)
    finally:
        shutil.rmtree(d, ignore_errors=True)
