"""Range (interval) join: match right rows whose point falls in a
window around each left row's point, per key.

The reference's join matrix (`/root/reference/README.md:356-360`) is
equi-only; range joins are the second canonical "operator Spark lacks"
(windowed attribution, prior-activity features, sessionized lookups).

Spark-first design — **bucketized equality join**, not a theta join:
a raw range condition (``r.p BETWEEN l.p+lo AND l.p+hi``) downgrades
the join to broadcast-nested-loop (O(n·m) comparisons). Binning the
point into buckets of width ``hi−lo`` makes every window span at most
two consecutive buckets, so the physical join is an ordinary
shuffle-hash/sort-merge **equality** join on ``(key, bucket)`` with
the residual range predicate applied per matched pair. Cost:
O(n+m) bucketing + an equi-join whose fan-out is the true match count
(plus the ≤2× bucket-probe factor) — survives 100 TB like any keyed
join; AQE's skew handling covers hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(
    left: DataFrame,
    right: DataFrame,
    by_cols: list[str],
    left_point: str,
    right_point: str,
    lower: float,
    upper: float,
) -> DataFrame:
    """Pairs where ``right.right_point ∈ [left.left_point + lower,
    left.left_point + upper]`` and the ``by_cols`` keys match.

    Points are numeric (cast timestamps to epoch seconds/days first).
    ``lower < upper`` required. Returns all left columns + all right
    columns (names must not collide except ``by_cols``). Left rows
    without a match are dropped (an inner join).
    """
    if not upper > lower:
        raise ValueError(f"need lower < upper, got [{lower}, {upper}]")
    overlap = (set(right.columns) - set(by_cols)) & set(left.columns)
    if overlap:
        raise ValueError(f"right columns collide with left: {sorted(overlap)}")

    width = float(upper - lower)
    # explicit aliases on both sides: self-joins (left and right sharing
    # lineage) must not lean on Spark's ambiguous-self-join heuristics,
    # which log "trivially true equals predicate" and can silently turn
    # into a cartesian-with-filter across versions
    r2 = right.withColumn("__rb", F.floor(F.col(right_point) / width)).alias("r")
    # the probe window [p+lower, p+upper] spans bucket ids
    # floor((p+lower)/w) .. floor((p+upper)/w) — at most 2 distinct ids
    # since the window width equals the bucket width
    l2 = left.withColumn(
        "__lb",
        F.explode(
            F.sequence(
                F.floor((F.col(left_point) + F.lit(lower)) / width),
                F.floor((F.col(left_point) + F.lit(upper)) / width),
            )
        ),
    ).alias("l")
    in_range = (
        (F.col(f"r.{right_point}") >= F.col(f"l.{left_point}") + F.lit(lower))
        & (F.col(f"r.{right_point}") <= F.col(f"l.{left_point}") + F.lit(upper))
    )
    cond = F.col("l.__lb") == F.col("r.__rb")
    for c in by_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    right_payload = [c for c in right.columns if c not in by_cols]
    # each right row lives in exactly ONE bucket and the left side
    # probes each bucket id once, so no pair is produced twice —
    # no dedup needed
    return (
        l2.join(r2, cond)
        .filter(in_range)
        .select("l.*", *[F.col(f"r.{c}") for c in right_payload])
        .drop("__lb")
    )
