"""As-of (temporal) join: for each left row, the most recent right row
at or before its timestamp, per key.

The reference's join matrix (`/root/reference/README.md:356-360`) stops
at equi-joins; as-of is the canonical "operator Spark lacks" a
training-data / event pipeline needs (align events to the latest prior
state: clicks→purchases, quotes→trades, feature snapshots→labels).

Spark-first design — union + running ``last(ignorenulls)`` window, NOT
a range join:

- A range-condition join (``r.t <= l.t``) explodes to O(|matches per
  key|²) intermediate rows before picking the max; the union-window
  form touches every row exactly once.
- ONE shuffle (on the key, for the window sort) — the same cost as any
  keyed aggregation, so it scales like groupBy: 100 TB of events
  partition by key and sort within partition (Spark's window uses
  spillable external sort; no per-key memory blowup).
- Hot keys are the skew hazard (same as any keyed op); mitigate
  upstream with salting or key-bucketing if one key dominates.

Tie-breaking is deterministic: right rows at the same timestamp sort
before left rows (a right row AT the left timestamp matches —
inclusive as-of), and among equal-timestamp right rows the one with
the highest ``order_col`` wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    by_cols: list[str],
    order_col: str,
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Join each left row to the latest right row with
    ``right.time_col <= left.time_col``, matching on ``by_cols``.

    ``direction`` (the pandas ``merge_asof`` trio): ``"backward"``
    (default — latest right at or before), ``"forward"`` (earliest
    right at or after, via the mirrored window frame — same single
    shuffle), ``"nearest"`` (both fills on the same partitioning —
    one extra in-partition sort, NO extra exchange — then a per-row
    pick of the smaller |Δt|, ties to the backward match). Equal
    timestamps match in every direction (inclusive); ties among
    equal-timestamp right rows go to the highest ``order_col`` in all
    directions.

    ``right``'s payload columns (everything except ``by_cols`` +
    ``time_col``) must not collide with left column names — rename
    before calling. ``order_col`` (a right payload column) breaks ties
    among right rows sharing a timestamp (highest wins).

    A left join: unmatched left rows keep a null payload.
    ``tolerance_seconds`` nulls matches further than the window in the
    match direction (exact to the microsecond).

    Returns all left columns + right payload columns.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    overlap = (set(right.columns) - set(by_cols) - {time_col}) & set(left.columns)
    if overlap:
        raise ValueError(f"right payload columns collide with left: {sorted(overlap)}")

    payload = [c for c in right.columns if c not in by_cols and c != time_col]
    left_payload = [c for c in left.columns if c not in by_cols and c != time_col]

    lnull_of = {f.name: F.lit(None).cast(f.dataType) for f in left.schema.fields}
    # the right payload travels as ONE struct so last(ignorenulls) picks
    # every column from the SAME matched row — per-column fills would
    # backfill a NULL payload column from an OLDER right row, emitting a
    # stitched row that never existed on the right
    from pyspark.sql import types as T

    if not payload:
        raise ValueError("right side has no payload columns beyond keys/time")
    payload_t = T.StructType([right.schema[c] for c in payload])

    l2 = left.select(
        *by_cols,
        F.col(time_col).alias("__t"),
        F.lit(1).alias("__is_l"),
        F.lit(None).cast(right.schema[order_col].dataType).alias("__ord"),
        *left_payload,
        # __rt keeps the RIGHT time column's own type (TIMESTAMP or
        # TIMESTAMP_NTZ): hard-casting to TIMESTAMP made the µs
        # arithmetic below reject NTZ parquet inputs (the vanilla
        # driver session reads the nanos fixture as NTZ) — caught by
        # the asof_nearest_click oracle run, r8
        F.lit(None).cast(right.schema[time_col].dataType).alias("__rt"),
        F.lit(None).cast(payload_t).alias("__rp"),
    )
    r2 = right.select(
        *by_cols,
        F.col(time_col).alias("__t"),
        F.lit(0).alias("__is_l"),
        F.col(order_col).alias("__ord"),
        *[lnull_of[c].alias(c) for c in left_payload],
        F.col(time_col).alias("__rt"),
        F.struct(*payload).alias("__rp"),
    )
    u = l2.unionByName(r2)

    wb = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col("__t").asc(), F.col("__is_l").asc(), F.col("__ord").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col("__t").asc(), F.col("__is_l").desc(), F.col("__ord").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    fills = []
    if direction in ("backward", "nearest"):
        fills += [
            F.last("__rt", ignorenulls=True).over(wb).alias("__bt"),
            F.last("__rp", ignorenulls=True).over(wb).alias("__bp"),
        ]
    if direction in ("forward", "nearest"):
        fills += [
            F.first("__rt", ignorenulls=True).over(wf).alias("__ft"),
            F.first("__rp", ignorenulls=True).over(wf).alias("__fp"),
        ]
    filled = u.select(
        *by_cols, "__t", "__is_l", *left_payload, *fills
    ).filter(F.col("__is_l") == 1)

    tol_us = (
        None if tolerance_seconds is None
        else int(round(float(tolerance_seconds) * 1_000_000))
    )

    def _us(later: str, earlier: str):
        # timestampdiff accepts TIMESTAMP and TIMESTAMP_NTZ alike
        # (unix_micros rejects NTZ); all uses are differences, so the
        # result is exact µs in either type regime
        return F.expr(f"timestampdiff(MICROSECOND, {earlier}, {later})")

    def _tol(t_col: str, delta):
        if tol_us is None:
            return F.col(t_col).isNotNull()
        return F.col(t_col).isNotNull() & (delta <= F.lit(tol_us))

    if direction == "backward":
        ok = _tol("__bt", _us("__t", "__bt"))
        filled = filled.select(
            *by_cols, "__t", *left_payload,
            F.when(ok, F.col("__bt")).alias("__rt"),
            F.when(ok, F.col("__bp")).alias("__rp"),
        )
    elif direction == "forward":
        ok = _tol("__ft", _us("__ft", "__t"))
        filled = filled.select(
            *by_cols, "__t", *left_payload,
            F.when(ok, F.col("__ft")).alias("__rt"),
            F.when(ok, F.col("__fp")).alias("__rp"),
        )
    else:
        db = _us("__t", "__bt")
        df_ = _us("__ft", "__t")
        ok_b = _tol("__bt", db)
        ok_f = _tol("__ft", df_)
        pick_b = ok_b & (~ok_f | (db <= df_))
        filled = filled.select(
            *by_cols, "__t", *left_payload,
            F.when(pick_b, F.col("__bt"))
            .when(ok_f, F.col("__ft")).alias("__rt"),
            F.when(pick_b, F.col("__bp"))
            .when(ok_f, F.col("__fp")).alias("__rp"),
        )

    return filled.select(
        *by_cols,
        F.col("__t").alias(time_col),
        *left_payload,
        *[F.col("__rp").getField(c).alias(c) for c in payload],
    )
