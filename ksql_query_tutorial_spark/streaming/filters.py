"""Stateless streaming corpus filters: live Bloom decontamination.

The streaming twin of ``operators.corpus.bloom_decontaminate``: a
document STREAM is scored against a pre-built constant-size Bloom
filter of the benchmark/eval set — the shape a production ingest
pipeline runs (the eval set is fixed ahead of time; documents arrive
continuously and must be flagged before they enter the training
corpus).

Scale design: the whole operator is STATELESS — the filter artifact is
a single static row cross-joined (broadcast) into the stream, and each
document's shingles are probed with array higher-order functions
INSIDE its own row (tokens → distinct shingles → k positions → bit
tests → flagged count, all per-row expressions). No shuffle, no state
store, no watermark needed; output mode is plain append and
throughput scales with source parallelism. The batch operator keeps
the codegen'd posexplode formulation (faster per shingle); the
streamed HOF form trades per-shingle speed for zero-exchange
statelessness — per-row cost is bounded by the document length either
way.

The filter row uses an ``array<boolean>`` of ``m_bits`` entries
(1 MiB at 2^20) instead of the batch path's bit-packed ``array<long>``
(128 KiB): HOF lambdas cannot parameterize Spark's literal-only shift
builtins, and ``element_at(bits, pos)`` keeps the probe a pure
expression. Still constant-size state regardless of benchmark growth.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.operators.corpus import (
    _bloom_shingle_hashes,
    _bloom_positions,
)
from ksql_query_tutorial_spark.operators.dedup import portable_token_hash


def bloom_bool_filter(
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """The streaming-probe filter artifact: ONE row with an
    ``array<boolean>`` of ``m_bits`` flags (true = position set).
    Same positions as the batch filter; an empty benchmark yields an
    all-false row, so the stream degrades to a no-op filter instead of
    dropping documents."""
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        flags = np.zeros(m_bits, dtype=bool)
        flags[pdf["pos"].to_numpy(dtype=np.int64)] = True
        return pd.DataFrame({"fbits": [flags]})

    return (
        _bloom_shingle_hashes(bench, id_col, text_col, n)
        .filter(F.col("h").isNotNull())
        .select(
            F.explode(
                F.array(*_bloom_positions(F.col("h"), k_hashes, m_bits))
            ).alias("pos")
        )
        .distinct()
        .withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(lambda _k, pdf: build(pdf), schema="fbits array<boolean>")
        .agg(
            F.aggregate(
                F.collect_list("fbits"),
                F.array_repeat(F.lit(False), m_bits),
                lambda acc, x: F.zip_with(acc, x, lambda a, b: a | b),
            ).alias("fbits")
        )
    )


def _shingle_flagged(
    sh: Column, fbits: Column, m_bits: int, k_hashes: int
) -> Column:
    """true iff ALL k positions of this shingle are set — the batch
    probe's hash and position arithmetic, as a per-element expression
    (element_at is 1-indexed)."""
    out: Column | None = None
    for pos in _bloom_positions(portable_token_hash(sh), k_hashes, m_bits):
        bit = F.element_at(fbits, (pos + 1).cast("int"))
        out = bit if out is None else (out & bit)
    assert out is not None
    return out


def decontaminate_stream(
    stream: DataFrame,
    filter_row: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    min_hits: int = 2,
) -> DataFrame:
    """Score a streaming document source against the broadcast Bloom
    filter row: per document, the distinct-shingle count, how many
    shingles hit the filter, and the contamination verdict — identical
    semantics (and numbers) to the batch operator on the same data,
    pinned by the replay parity test.

    Append-mode safe: every column is a per-row expression after the
    stream-static broadcast cross join.
    """
    from ksql_query_tutorial_spark.operators.dedup import shingles_of
    from ksql_query_tutorial_spark.operators.text import tokens

    shs = F.array_distinct(shingles_of(F.col("__toks"), n))
    n_flagged = F.aggregate(
        "__shs",
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(
            _shingle_flagged(s, F.col("fbits"), m_bits, k_hashes), 1
        ).otherwise(0),
    )
    return (
        stream.crossJoin(F.broadcast(filter_row))
        .withColumn("__toks", tokens(F.col(text_col)))
        .withColumn("__shs", shs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.size("__shs").cast("long").alias("n_shingles"),
            n_flagged.alias("n_flagged"),
        )
        .withColumn(
            "flag_frac",
            F.round(
                F.col("n_flagged").cast("double")
                / F.greatest(F.col("n_shingles"), F.lit(1)).cast("double"),
                6,
            ),
        )
        .withColumn("contaminated", F.col("n_flagged") >= min_hits)
    )
