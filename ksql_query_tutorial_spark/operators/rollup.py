"""Hypertable-style time rollup: the same aggregate materialized at
multiple time granularities (the continuous-aggregate pattern of
time-series stores).

Scale design: the coarse levels are computed FROM the finest level's
partials, not from the raw table — counts and sums compose
(``sum(day) = sum(hours of day)``), so a day/week/month rollup reads
hours-per-key rows instead of re-scanning raw events. At 100 TB that
is the difference between one full scan plus tiny re-aggregations and
G full scans; it is also exactly how a streaming refresh would keep
the coarse levels incrementally up to date from the hourly changelog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# granularity name -> date_trunc unit, ordered finest-first
_UNITS = {"hour": "hour", "day": "day", "week": "week", "month": "month"}


def hypertable_rollup(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    granularities: tuple[str, ...] = ("hour", "day"),
) -> DataFrame:
    """Count + sum(value) per key per time bucket, at every granularity.

    ``granularities`` must be ordered finest-first; each coarser level
    re-aggregates the FINEST level's partials (never an intermediate
    level — adjacent granularities need not nest: week→month would be
    silently wrong). Returns
    ``granularity, bucket_start, *key_cols, n, total_value``.
    """
    unknown = [g for g in granularities if g not in _UNITS]
    if unknown:
        raise ValueError(f"unknown granularities {unknown}; pick from {list(_UNITS)}")
    order = list(_UNITS)
    ranks = [order.index(g) for g in granularities]
    if ranks != sorted(ranks) or len(set(ranks)) != len(ranks):
        raise ValueError(f"granularities must be distinct and finest-first: {granularities}")

    finest = granularities[0]
    # every coarser level is computed from the FINEST partials, so each
    # requested level must tile exactly into the finest buckets. Weeks
    # straddle month boundaries: months can be built from hours/days but
    # never from weeks.
    if finest == "week" and "month" in granularities[1:]:
        raise ValueError(
            "'month' cannot be rolled up from 'week' partials (weeks straddle "
            "month boundaries); use 'day' or 'hour' as the finest granularity"
        )
    base = (
        df.groupBy(
            F.date_trunc(_UNITS[finest], F.col(ts_col)).alias("bucket_start"),
            *key_cols,
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col)).alias("total_value"),
        )
    )
    out = base.withColumn("granularity", F.lit(finest))
    # every coarser level re-aggregates the FINEST level's partials —
    # NOT the immediately previous level: adjacent granularities need
    # not nest (weeks straddle month boundaries, so month-from-week
    # would silently drop/double rows). Any date_trunc unit nests the
    # finer units hour/day, so truncating the finest bucket_start is
    # always exact; the finest partials are tiny relative to raw, so
    # re-reading them per level costs ~nothing and Spark reuses the
    # base exchange across the union branches.
    for g in granularities[1:]:
        level = (
            base.groupBy(
                F.date_trunc(_UNITS[g], F.col("bucket_start")).alias("bucket_start"),
                *key_cols,
            )
            .agg(F.sum("n").alias("n"), F.sum("total_value").alias("total_value"))
        )
        out = out.unionByName(level.withColumn("granularity", F.lit(g)))
    return out.select("granularity", "bucket_start", *key_cols, "n", "total_value")
