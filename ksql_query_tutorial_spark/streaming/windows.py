"""Windowed stream–stream join (J3).

The reference's join matrix says stream–stream joins must be windowed
(its README.md:356-360). The Spark form is a watermark on
both sides plus a time-range condition (the ``JOIN ... WITHIN`` analog).
Windowed aggregations need no helper here: the KSQL dialect rewrites a
``WINDOW TUMBLING/HOPPING`` clause to ``window()`` in the compiled SQL.

State-scale note: the watermark is what lets Spark EVICT join state —
an unwatermarked stream–stream join grows without bound. Always set one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    left_ts: str,
    right_ts: str,
    lower: str = "interval 0 seconds",
    upper: str = "interval 1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Windowed stream–stream join (the KSQL ``JOIN ... WITHIN`` analog,
    README.md:356-360): equi-condition + time-range bound, watermarks on
    BOTH sides so join state is evictable.

    right_ts must lie in [left_ts - lower, left_ts + upper].
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        on
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(lower))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(upper))
    )
    return lw.join(rw, cond, how)
