"""The closed-form OLS fit the corpus, retail and events families share:
:func:`ols_regression`, the fixed-point closed-form fit, and
:func:`event_type_trend`, its per-event-type daily-volume trend.

The other event analytics (funnels, sessions, windows, detectors,
retention, the A/B readouts and the HyperLogLog sketch) and the privacy
audits and DP release are SQL text in ``extensions/events.sql`` and
``extensions/privacy.sql``; they spell the portable hashes in the KSQL
dialect (``AB_ARM``, ``HLL_HASH``, ``TOKEN_HASH``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


OLS_SCALE = 1_000_000  # micro-unit input quantization (see below)


def ols_regression(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group simple OLS fit (slope, intercept, R²) from the
    closed-form moment sums — e.g. discount elasticity of quantity:
    how strongly does quantity respond to discount within each group.

    Determinism design (the r6 corpus_heaps flake fix): double moment
    sums are ORDER-DEPENDENT in their low bits, and both Spark's
    partial aggregation and DuckDB's parallel (morsel-scheduled)
    aggregation reorder the additions run-to-run. For a degenerate
    group (zero x or y variance — e.g. a saturated-vocabulary Heaps
    fit) the closed form is pure cancellation residue, so even the
    SIGN of the output flipped between runs ("0.0" vs "-0.0" in the
    strict CSV hash). Fix: quantize inputs to integer micro-units —
    ``floor(v·1e6 + 0.5)`` — and accumulate the five moments EXACTLY
    (decimal(38,0) here, HUGEINT in the DuckDB oracle), which makes
    every sum order-independent; the closed form then runs over
    identical doubles on both engines, expression-tree-identical, so
    the result is bit-reproducible. Quantization also absorbs
    last-ulp libm-vs-JVM differences in upstream ``ln`` inputs
    (a boundary hit needs the true value within ~1e-10 of a
    half-micro-unit). Exact zero variance now yields exact dx/dy = 0
    and the NULL guard fires identically everywhere.

    Scale design: the five moments Σx, Σy, Σxy, Σx², Σy² and n all
    come from ONE aggregate pass with map-side partials (the
    lineitem_correlations move); decimal partials are exact at any
    group size (int128-backed — no 2^53 ceiling, no overflow below
    1e38); the closed form is a fixed-shape expression over the
    group rollup. Degenerate groups yield NULL slope/R² in both
    engines via explicit guards, never a divide-by-zero.
    """
    dec = "decimal(38,0)"
    xq = F.floor(F.col(x_col) * F.lit(float(OLS_SCALE)) + F.lit(0.5)).cast(dec)
    yq = F.floor(F.col(y_col) * F.lit(float(OLS_SCALE)) + F.lit(0.5)).cast(dec)
    q = df.select(F.col(group_col), xq.alias("__x"), yq.alias("__y"))
    m = q.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = F.when(dx > 0, cov / dx)
    intercept = F.when(
        dx > 0, (sy - (cov / dx) * sx) / (n * F.lit(float(OLS_SCALE)))
    )
    r2 = F.when((dx > 0) & (dy > 0), (cov * cov) / (dx * dy))
    return m.select(
        group_col,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    ).orderBy(group_col)


def event_type_trend(events: DataFrame) -> DataFrame:
    """Per-event-type linear trend of the daily volume: OLS slope /
    intercept / R² of count-per-day against the day index, on the
    calendar-densified series (a type that stops firing must trend
    DOWN via explicit zero days, not vanish from its own fit) — the
    drift detector that pages before a collector outage becomes a
    week of silently missing training data.

    Composition: the per-(type, day) rollup is one keyed exchange;
    the spine is the GLOBAL day range crossed with the distinct type
    set (|types| × |days| rows — bounded by calendar × cardinality,
    broadcast-sized); the fit is :func:`ols_regression`'s exact
    fixed-point closed form, one aggregate pass over the grid.

    Returns ``event_type, n, slope, intercept, r2`` ordered by type.
    """
    daily = events.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("dmin"),
        F.max(F.to_date("ts")).alias("dmax"),
    ).filter(F.col("dmin").isNotNull())
    spine = bounds.select(
        F.explode(F.sequence("dmin", "dmax")).alias("day"),
        "dmin",
    )
    types = events.select("event_type").distinct()
    pts = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.datediff("day", "dmin").cast("double").alias("x"),
            F.coalesce("c", F.lit(0)).cast("double").alias("y"),
        )
    )
    return ols_regression(pts, x_col="x", y_col="y", group_col="event_type")


