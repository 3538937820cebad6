"""File layout: Z-order keys and the per-file statistics they yield.

A lakehouse reader skips files by their min/max column statistics;
sorting by a Morton (Z-order) key makes those statistics narrow on two
columns at once, so a predicate on EITHER column prunes files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zorder_key(x: F.Column, y: F.Column, bits: int = 16) -> F.Column:
    """Morton/Z-order interleave of two ``bits``-bit non-negative ints
    (x in the odd bit positions, y in the even): points close in BOTH
    dimensions get close z-values, so sorting/bucketing by the key
    co-locates them in the same files — the multi-column data-skipping
    layout (Delta/Iceberg ``OPTIMIZE ZORDER BY``) that min/max file
    stats then prune on EITHER predicate column.

    Pure bit arithmetic (shift/and/add over disjoint bits), whole-stage
    codegen, reproducible in any integer SQL engine.
    """
    z: F.Column | None = None
    for b in range(bits):
        t = F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b + 1) + \
            F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b)
        z = t if z is None else z + t
    assert z is not None
    return z


def zorder_file_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
    n_files: int = 64,
) -> DataFrame:
    """Assign every row to one of ``n_files`` z-order file buckets and
    report each file's min/max bounds on BOTH layout columns — the
    exact statistics a lakehouse reader prunes on, so the result SHOWS
    the skipping win: under z-order each file covers a narrow range of
    x AND y simultaneously (a single-column sort gives narrow x but
    full-width y).

    Both dimensions are min-max scaled to the ``bits``-bit domain with
    integer-exact arithmetic (the ((v-min)·scale)/range product stays
    < 2^53, so the IEEE double divide is bit-reproducible across
    engines); ``file_id`` is the top log2(n_files) bits of the z-value
    — contiguous z-ranges, the same assignment a range-partitioned
    sorted write would produce on this key.

    Plan shape: one 4-cell bounds aggregate broadcast back over the
    scan, then a single |n_files|-bounded groupBy — no sort, no
    wide shuffle; at 100 TB the write path is ``repartition(n_files,
    file_id)`` + a partitioned write, and this op is its audit query.

    Returns ``file_id, n_rows, min_x, max_x, min_y, max_y``.
    """
    if n_files & (n_files - 1) or n_files <= 0:
        raise ValueError("n_files must be a power of two")
    file_bits = n_files.bit_length() - 1
    scale = (1 << bits) - 1

    bounds = df.agg(
        F.min(x_col).alias("__minx"), F.max(x_col).alias("__maxx"),
        F.min(y_col).alias("__miny"), F.max(y_col).alias("__maxy"),
    )

    def scaled(col: str, lo: str, hi: str) -> F.Column:
        rng = F.greatest(F.col(hi) - F.col(lo), F.lit(1)).cast("double")
        num = ((F.col(col) - F.col(lo)) * F.lit(scale)).cast("double")
        return F.floor(num / rng).cast("long")

    z = zorder_key(
        scaled(x_col, "__minx", "__maxx"),
        scaled(y_col, "__miny", "__maxy"),
        bits,
    )
    return (
        df.join(F.broadcast(bounds))
        .withColumn("__z", z)
        .withColumn("file_id", F.shiftright(F.col("__z"), 2 * bits - file_bits))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(x_col).alias("min_x"), F.max(x_col).alias("max_x"),
            F.min(y_col).alias("min_y"), F.max(y_col).alias("max_y"),
        )
    )
