"""Experimentation and sketch operators over the event log, and the
closed-form OLS fit the corpus, retail and events families share.

- A/B readouts over deterministic hash-bucketed arms
  (:func:`hashes.ab_arm`): the conversion z test, the sample-ratio
  check, the CUPED-adjusted revenue effect, the sequential SPRT walk,
  difference-in-differences and the Mann-Whitney rank-sum test. Every
  readout buckets users with the same portable hash, so all describe one
  experiment, and each DuckDB oracle restates that hash from
  ``hashes.*_sql``.
- :func:`hll_distinct`, a hand-rolled HyperLogLog sketch whose register
  arithmetic is integer-exact, so an oracle reproduces the estimate.
- :func:`dp_noisy_counts`, a Laplace-mechanism count release with noise
  drawn from the portable token hash.
- :func:`ols_regression`, the fixed-point closed-form OLS fit, and
  :func:`event_type_trend`, its per-event-type daily-volume trend.

The relational event analytics (funnels, sessions, windows, detectors,
retention) and the privacy audits are SQL text in
``extensions/events.sql`` and ``extensions/privacy.sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.functions import hashes


_HLL_CAP = 50  # register cap so 2^(CAP-r) sums stay exact in BIGINT


def hll_distinct(
    df: DataFrame,
    group_col: str = "event_type",
    item_col: str = "user_id",
    p: int = 6,
) -> DataFrame:
    """Per-group approximate distinct count via a hand-rolled
    HyperLogLog sketch (Flajolet et al. 2007) — the constant-state,
    mergeable cardinality sketch, complementing the KMV estimator
    (`corpus.kmv_distinct_estimate`) with the register-max shape that
    unions for free (max is idempotent AND commutative, so the sketch
    never needs a pre-distinct pass: duplicates can't move a max).

    Portable by construction so a DuckDB oracle reproduces the EXACT
    estimate: the item hash is two multiply-mod bijections on the
    Mersenne-31 ring (:func:`hashes.hll_hash`), the rank (rho)
    of the suffix bits comes from `length(bin(w))` — integer/string
    ops, no float log2 near power-of-two boundaries — and the harmonic
    sum is accumulated as BIGINT via exact powers of two scaled by
    2^CAP, so summation order can't perturb a float. Only the final
    one-division estimate (and the small-range linear-counting branch)
    touches doubles, each a fixed expression tree both engines
    evaluate identically; results round to 6.

    Scale shape: groupBy(group, bucket).max(rho) — ONE full-data
    exchange with map-side partial max collapsing every task to at
    most |groups|·2^p rows — then a |groups|·2^p -> |groups| rollup.
    No distinct, no window, no sort. The exact-count column is the
    oracle-parity companion (and rel-err witness); a production run at
    100 TB drops it and keeps the sketch-only plan.

    Returns ``group, n_exact, est_distinct (rounded 6), rel_err``.
    """
    m = 1 << p
    w_bits = 62 - p
    alpha = 0.709 if m == 64 else 0.7213 / (1.0 + 1.079 / m)
    pow2cap = float(1 << _HLL_CAP)

    h = hashes.hll_hash(hashes.hll_fold(F.col(item_col)))
    w = F.shiftright(h, p)
    msb = F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
    rho = F.lit(w_bits + 1) - msb

    regs = (
        df.select(
            F.col(group_col).alias("group"),
            F.pmod(h, F.lit(m)).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("group", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    contrib = F.pow(F.lit(2.0), F.lit(_HLL_CAP) - F.least(F.col("r"), F.lit(_HLL_CAP))).cast("long")
    sketch = regs.groupBy("group").agg(
        F.sum(contrib).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    s_total = F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(1 << _HLL_CAP)
    zeros = F.lit(m) - F.col("n_present")
    raw = F.lit(alpha * (m * m)) * F.lit(pow2cap) / s_total.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)

    exact = df.groupBy(F.col(group_col).alias("group")).agg(
        F.countDistinct(item_col).alias("n_exact")
    )
    return (
        sketch.withColumn("est_distinct", F.round(est, 6))
        .join(exact, "group")
        .select(
            "group",
            "n_exact",
            "est_distinct",
            F.round(
                (F.col("est_distinct") - F.col("n_exact"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_err"),
        )
    )


def ab_test_conversion(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Deterministic A/B conversion analysis: users are assigned to
    arms by a pure hash of their id (the experiment-bucketing
    primitive — stable under re-runs and late events, unlike random
    assignment), conversion = the user emitted at least one
    ``conversion_type`` event, and the readout is the classic
    two-proportion z statistic on the pooled standard error.

    Scale design: ONE user-keyed rollup (map-side partials collapse
    each task to its distinct users) feeds a two-row arm aggregate;
    the z arithmetic runs on that single wide row. The hash is the
    repo's portable multiplicative scheme, reproduced verbatim in the
    oracle.

    Returns one row: ``n_a, n_b, conv_a, conv_b, rate_a, rate_b,
    lift, z`` (floats rounded 6).
    """
    arm = hashes.ab_arm(F.col(user_col)).cast("int")
    per_user = (
        events.groupBy(user_col)
        .agg(
            F.max(
                F.when(F.col(type_col) == conversion_type, 1).otherwise(0)
            ).alias("__conv")
        )
        .select(arm.alias("__arm"), "__conv")
    )
    wide = per_user.agg(
        F.sum(F.when(F.col("__arm") == 0, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("__arm") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
        F.sum(F.when(F.col("__arm") == 0, F.col("__conv")).otherwise(0))
        .cast("long").alias("conv_a"),
        F.sum(F.when(F.col("__arm") == 1, F.col("__conv")).otherwise(0))
        .cast("long").alias("conv_b"),
    )
    # every division is guarded: an empty arm yields NULL rates, and a
    # degenerate pooled rate (0 or 1 — e.g. every user converted, which
    # this fixture's dense event stream produces) yields se = 0 and a
    # NULL z in BOTH engines, instead of an ANSI divide-by-zero here
    # and an Inf in the oracle.
    ra = F.when(F.col("n_a") > 0, F.col("conv_a") / F.col("n_a"))
    rb = F.when(F.col("n_b") > 0, F.col("conv_b") / F.col("n_b"))
    pooled = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    se2 = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        pooled * (1 - pooled) * (1 / F.col("n_a") + 1 / F.col("n_b")),
    )
    return wide.select(
        "n_a", "n_b", "conv_a", "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(rb - ra, 6).alias("lift"),
        F.round(
            F.when(se2 > 0, (rb - ra) / F.sqrt(se2)), 6
        ).alias("z"),
    )


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


DP_NOISE_MOD = 1_000_000


def dp_noisy_counts(
    df: DataFrame,
    group_col: str,
    epsilon: float = 1.0,
) -> DataFrame:
    """Differentially-private count release (Laplace mechanism,
    sensitivity 1): per group, the true count plus Laplace(1/ε) noise
    derived from a PORTABLE hash of the group key — deterministic so
    the oracle gate can value-hash the release, yet distributed
    exactly like the sampled mechanism (the hash plays the role of
    the uniform draw; a production release swaps it for a real RNG
    and drops ``n_true``, which is kept here for the yield audit).

    Scale design: one group-keyed count rollup with map-side partials;
    the noise is per-GROUP arithmetic on the bounded result (a
    Mersenne-31 char fold of the key + the inverse-CDF transform,
    both bit-portable per row). Output is |groups| rows.
    """
    counts = df.groupBy(F.col(group_col).alias("group_key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    u = (
        F.pmod(hashes.token_hash(F.col("group_key")), F.lit(DP_NOISE_MOD))
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(DP_NOISE_MOD))  # uniform in (0, 1)
    centered = u - F.lit(0.5)
    b = 1.0 / float(epsilon)
    noise = (
        -F.lit(b)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return counts.select(
        "group_key",
        "n_true",
        F.round(F.col("n_true") + noise, 4).alias("n_released"),
        F.lit(float(epsilon)).alias("epsilon"),
    ).orderBy("group_key")


def ab_srm_check(
    events: DataFrame,
    user_col: str = "user_id",
    expected_share_a: float = 0.5,
    chi2_critical: float = 3.841,
) -> DataFrame:
    """Sample-ratio-mismatch (SRM) check for the hash-bucketed A/B
    assignment — the experiment-hygiene gate run BEFORE reading any
    metric: if the observed arm split deviates from the design split
    beyond chance (one-degree-of-freedom chi-square above the 95%
    critical value 3.841), the bucketing or logging pipeline is broken
    and every downstream readout is invalid. Uses the SAME
    deterministic user-hash arms as ab_test_conversion, so it audits
    exactly the assignment the readout uses.

    Scale design: one user-keyed distinct rollup (map-side partials),
    then a two-cell chi-square on a single row. Exact integer counts;
    the statistic is one fixed-shape double expression.

    Returns one row: ``n_users, n_a, n_b, expected_a, chi2, srm_flag``
    (chi2 rounded 6).
    """
    arm = hashes.ab_arm(F.col(user_col)).cast("int")
    per_user = events.select(user_col).distinct().select(arm.alias("__arm"))
    wide = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("__arm") == 0, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("__arm") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
    )
    ea = F.col("n_users").cast("double") * expected_share_a
    eb = F.col("n_users").cast("double") * (1.0 - expected_share_a)
    chi2 = F.when(
        F.col("n_users") > 0,
        (F.col("n_a") - ea) * (F.col("n_a") - ea) / ea
        + (F.col("n_b") - eb) * (F.col("n_b") - eb) / eb,
    )
    return wide.select(
        "n_users",
        "n_a",
        "n_b",
        F.round(ea, 6).alias("expected_a"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > chi2_critical).alias("srm_flag"),
    )


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


def cuped_ab_effect(
    events: DataFrame,
    metric_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """CUPED-adjusted A/B effect (Deng et al., WSDM 2013): the
    experiment-period revenue effect with the pre-period revenue as
    the control covariate — Y_adj = Y − θ(X − X̄), θ = cov(X,Y)/var(X)
    pooled across arms — the variance-reduction standard at every
    experimentation platform (same decision, tighter CI, often 2-5×
    fewer users for the same power; var_reduction below IS the
    measured 1−r² factor).

    Semantics: the events span splits at its midpoint day (pre =
    before, experiment = at/after); the unit is the user (every user
    with ≥1 event of any type is exposed — absent revenue is an
    explicit 0, not a dropped user); arms are the repo's portable
    multiplicative hash (ab_test_conversion's bucketing, reproduced
    verbatim in the oracle).

    Determinism design: the metric is quantized to integer micro-units
    PER EVENT (floor(v·1e6 + 0.5) — quantizing per-user double sums
    instead would put order-dependent ±ulp noise right on micro
    boundaries), per-user and per-arm sums accumulate exactly in
    decimal(38,0) (HUGEINT in the oracle), and θ / both effects /
    var_reduction are fixed-shape double expressions over identical
    integer moments, NULL-guarded identically on degenerate variance
    or an empty arm.

    Scale design: ONE user-keyed rollup with map-side partials
    collapses the corpus (the span bounds ride in as a broadcast
    single row); every moment — pooled AND per-arm — comes from ONE
    single-row aggregate over the per-user frame. No windows, no
    driver actions, nothing quadratic.

    Returns one row: ``n_users, n_a, n_b, theta, effect_raw,
    effect_cuped, var_reduction`` (doubles rounded 6).
    """
    bounds = events.agg(
        F.min(F.to_date(ts_col)).alias("__dmin"),
        F.max(F.to_date(ts_col)).alias("__dmax"),
    ).filter(F.col("__dmin").isNotNull())
    mid = F.date_add(
        F.col("__dmin"),
        F.floor(F.datediff(F.col("__dmax"), F.col("__dmin")) / 2).cast("int"),
    )
    vq = F.floor(F.col(value_col) * F.lit(1e6) + F.lit(0.5)).cast("long")
    is_metric = F.col(type_col) == metric_type
    day = F.to_date(ts_col)
    per_user = (
        events.crossJoin(F.broadcast(bounds.select(mid.alias("__mid"))))
        .groupBy(user_col)
        .agg(
            F.sum(
                F.when(is_metric & (day < F.col("__mid")), vq).otherwise(
                    F.lit(0)
                )
            ).cast("decimal(38,0)").alias("__x"),
            F.sum(
                F.when(is_metric & (day >= F.col("__mid")), vq).otherwise(
                    F.lit(0)
                )
            ).cast("decimal(38,0)").alias("__y"),
        )
        .select(
            hashes.ab_arm(F.col(user_col)).cast("int").alias("__arm"),
            "__x",
            "__y",
        )
    )
    a0 = F.col("__arm") == 0
    zero = F.lit(0).cast("decimal(38,0)")
    m = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(a0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~a0, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
        F.sum(F.when(a0, F.col("__x")).otherwise(zero)).alias("__sxa"),
        F.sum(F.when(a0, F.col("__y")).otherwise(zero)).alias("__sya"),
        F.sum(F.when(~a0, F.col("__x")).otherwise(zero)).alias("__sxb"),
        F.sum(F.when(~a0, F.col("__y")).otherwise(zero)).alias("__syb"),
    )
    n = F.col("n_users").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    dx_var = n * sxx - sx * sx
    dy_var = n * syy - sy * sy
    cov = n * sxy - sx * sy
    theta = F.when(dx_var > 0, cov / dx_var)
    both_arms = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    dy = F.when(
        both_arms,
        F.col("__syb").cast("double") / nb
        - F.col("__sya").cast("double") / na,
    )
    dxm = F.when(
        both_arms,
        F.col("__sxb").cast("double") / nb
        - F.col("__sxa").cast("double") / na,
    )
    effect_raw = dy / F.lit(1e6)
    effect_cuped = (dy - theta * dxm) / F.lit(1e6)
    var_reduction = F.when(
        (dx_var > 0) & (dy_var > 0), (cov * cov) / (dx_var * dy_var)
    )
    return m.select(
        "n_users",
        "n_a",
        "n_b",
        F.round(theta, 6).alias("theta"),
        F.round(effect_raw, 6).alias("effect_raw"),
        F.round(effect_cuped, 6).alias("effect_cuped"),
        F.round(var_reduction, 6).alias("var_reduction"),
    )


def sprt_conversion(
    events: DataFrame,
    p0: float = 0.18,
    p1: float = 0.22,
    alpha: float = 0.05,
    beta: float = 0.05,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Wald sequential probability ratio test (SPRT) per experiment
    arm: walk the event stream in time order and accumulate the
    Bernoulli log-likelihood ratio of "this event converts" under
    H1 (rate ``p1``) vs H0 (rate ``p0``); the test stops the moment the
    walk exits the ``[ln(beta/(1-alpha)), ln((1-beta)/alpha)]`` band —
    the always-valid early-stopping readout a batch z-test
    (``ab_test_conversion``) cannot give. Arms use the repo's portable
    hash bucketing (stable under re-runs and late events).

    Numeric reproducibility: the increment takes only two values
    (``la = ln(p1/p0)`` on conversion, ``lb = ln((1-p1)/(1-p0))``
    otherwise), so the walk is derived from EXACT integer prefix
    counts — ``llr_n = conv_n*la + (n-conv_n)*lb`` — one multiply+add
    on identical integers in any engine, instead of a float cumsum
    whose rounding path could flip a boundary comparison.

    Scale design: the prefix counts use the hierarchical pattern
    (``pack_sequences`` precedent) — intra-hour window partitioned by
    (arm, hour) runs parallel across the calendar, per-hour totals
    (a tiny |arms|·|hours| frame) carry the running offset, broadcast
    back. No single-reducer global sort at any corpus size; a live
    deployment runs the same integer-count recurrence incrementally in
    the streaming layer.

    Returns one row per arm: ``arm, n_events, n_conversions,
    llr_final, first_cross_n, decision`` (``first_cross_n`` = 0 when
    the walk never left the band; decision ∈ accept_h1 / accept_h0 /
    continue).
    """
    import math

    la = math.log(p1 / p0)
    lb = math.log((1.0 - p1) / (1.0 - p0))
    upper = math.log((1.0 - beta) / alpha)
    lower = math.log(beta / (1.0 - alpha))

    arm = hashes.ab_arm(F.col(user_col)).cast("int")
    base = events.select(
        arm.alias("arm"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__eid"),
        F.when(F.col(type_col) == conversion_type, F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("__x"),
        F.date_trunc("hour", F.col(ts_col)).alias("__blk"),
    )

    intra = (
        Window.partitionBy("arm", "__blk")
        .orderBy("__ts", "__eid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = base.select(
        "arm", "__blk", "__x",
        F.sum("__x").over(intra).alias("__lc"),
        F.count(F.lit(1)).over(intra).alias("__ln"),
    )

    blk_w = (
        Window.partitionBy("arm").orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        base.groupBy("arm", "__blk")
        .agg(F.sum("__x").alias("__bc"), F.count(F.lit(1)).alias("__bn"))
        .select(
            "arm", "__blk",
            F.coalesce(F.sum("__bc").over(blk_w), F.lit(0)).alias("__oc"),
            F.coalesce(F.sum("__bn").over(blk_w), F.lit(0)).alias("__on"),
        )
    )

    cum = local.join(F.broadcast(offsets), ["arm", "__blk"]).select(
        "arm",
        (F.col("__oc") + F.col("__lc")).alias("cum_c"),
        (F.col("__on") + F.col("__ln")).alias("cum_n"),
    )
    llr = (
        F.col("cum_c").cast("double") * F.lit(la)
        + (F.col("cum_n") - F.col("cum_c")).cast("double") * F.lit(lb)
    )
    crossings = (
        cum.withColumn("__llr", llr)
        .filter((F.col("__llr") >= upper) | (F.col("__llr") <= lower))
        .groupBy("arm")
        .agg(
            F.min("cum_n").alias("first_cross_n"),
            F.expr("min_by(__llr, cum_n)").alias("__llr_at"),
        )
    )

    totals = base.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("__x").cast("long").alias("n_conversions"),
    )
    return (
        totals.join(crossings, "arm", "left")
        .select(
            "arm",
            "n_events",
            "n_conversions",
            F.round(
                F.col("n_conversions").cast("double") * F.lit(la)
                + (F.col("n_events") - F.col("n_conversions")).cast("double")
                * F.lit(lb),
                6,
            ).alias("llr_final"),
            F.coalesce(F.col("first_cross_n"), F.lit(0))
            .cast("long").alias("first_cross_n"),
            F.when(F.col("__llr_at") >= upper, F.lit("accept_h1"))
            .when(F.col("__llr_at") <= lower, F.lit("accept_h0"))
            .otherwise(F.lit("continue")).alias("decision"),
        )
        .orderBy("arm")
    )


def did_effect(
    events: DataFrame,
    split_ts: str,
    metric_type: str = "purchase",
    value_col: str = "value",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Difference-in-differences readout: per (arm, period) mean of the
    metric value with period = before/after ``split_ts``, and the DiD
    estimate ``(B_post − B_pre) − (A_post − A_pre)`` with its pooled
    standard error — the quasi-experimental effect estimate when only
    arm B received the change at ``split_ts`` (parallel-trends
    assumption; complements cuped_ab_effect's variance reduction and
    sprt_conversion's sequential stopping).

    Numeric reproducibility: per-cell moments accumulate MICRO-UNIT
    INTEGERS (``floor(v·1e6 + 0.5)``, decimal(38,0) partials — the
    ``_ols_tail_sql`` convention), so sums are order-independent and
    the derived means/variances are bit-identical in any engine.

    Scale design: one partial-aggregated rollup to FOUR cells; all
    statistics are closed-form arithmetic on that single wide row.

    Returns one row: ``n_{a,b}_{pre,post}, mean_{a,b}_{pre,post},
    did, se, t`` (floats rounded 6).
    """
    arm = hashes.ab_arm(F.col(user_col)).cast("int")
    post = (F.col(ts_col) >= F.lit(split_ts).cast("timestamp")).cast("int")
    q = F.floor(F.col(value_col) * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    cells = (
        events.filter(F.col(type_col) == metric_type)
        .select(arm.alias("__arm"), post.alias("__post"), q.alias("__q"))
    )

    def _cell(a: int, p: int, agg):
        cond = (F.col("__arm") == a) & (F.col("__post") == p)
        return agg(cond)

    def _n(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    def _s(cond):
        return F.sum(F.when(cond, F.col("__q")).otherwise(F.lit(0).cast(
            "decimal(38,0)")))

    def _s2(cond):
        return F.sum(F.when(cond, F.col("__q") * F.col("__q"))
                     .otherwise(F.lit(0).cast("decimal(38,0)")))

    names = {(0, 0): "a_pre", (0, 1): "a_post",
             (1, 0): "b_pre", (1, 1): "b_post"}
    aggs = []
    for (a, p), nm in names.items():
        aggs += [
            _cell(a, p, _n).alias(f"n_{nm}"),
            _cell(a, p, _s).alias(f"__s_{nm}"),
            _cell(a, p, _s2).alias(f"__s2_{nm}"),
        ]
    wide = cells.agg(*aggs)

    def mean(nm):
        return (
            F.col(f"__s_{nm}").cast("double")
            / F.col(f"n_{nm}").cast("double") / F.lit(1e6)
        )

    def var_over_n(nm):
        n = F.col(f"n_{nm}").cast("double")
        m = mean(nm)
        return (
            (F.col(f"__s2_{nm}").cast("double") / F.lit(1e12)
             - n * m * m)
            / (n - F.lit(1.0)) / n
        )

    did = (mean("b_post") - mean("b_pre")) - (mean("a_post") - mean("a_pre"))
    se = F.sqrt(
        var_over_n("a_pre") + var_over_n("a_post")
        + var_over_n("b_pre") + var_over_n("b_post")
    )
    out_cols = [F.col(f"n_{nm}") for nm in names.values()]
    out_cols += [F.round(mean(nm), 6).alias(f"mean_{nm}")
                 for nm in names.values()]
    out_cols += [
        F.round(did, 6).alias("did"),
        F.round(se, 6).alias("se"),
        F.round(did / se, 6).alias("t"),
    ]
    return wide.select(*out_cols)


def mann_whitney_value(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test on per-user total spend
    between the two deterministic experiment arms — the nonparametric
    complement of :func:`ab_test_conversion` (proportion z) and
    :func:`difference_in_differences` (mean t): it compares the FULL
    per-user value distributions via ranks, so one whale user cannot
    drag the verdict the way it drags a mean. Arms use the repo's
    portable hash bucketing (:func:`hashes.ab_arm`),
    identical to the other experimentation queries, so all four
    readouts describe the same experiment.

    Numeric reproducibility: the per-user metric is summed in integer
    micro-units (``floor(value·1e6 + 0.5)`` per event, then an exact
    BIGINT sum), so tie groups are well-defined and identical in any
    engine — no float-equality grouping. U itself is carried DOUBLED
    (``twice_u_a``) so the half-tie credit stays an exact integer
    (bound: 2·U ≤ 2·n_a·n_b fits int64 through ~2·10⁹ users per arm);
    the tie correction Σ(t³−t) accumulates in decimal(38,0) — a tie
    group of every user on Earth cubed still fits — and only the
    tie-corrected normal approximation (z) and the rank-biserial
    effect size are doubles, rounded 6.

    Scale design: per-user rollup (one user-keyed exchange with
    map-side partials) collapses to |users| rows; the distinct-value
    frame after the second rollup is ≤ |users| rows. The
    strictly-below-B cumulative uses the hierarchical prefix-sum
    pattern (``sprt_conversion`` precedent): intra-bucket window
    partitioned by a value bucket (exact integer floor-division via
    ``pmod``) runs parallel across buckets, per-bucket totals (a tiny
    frame) carry the running offset via a broadcast join — no
    single-reducer global sort at any corpus size.

    Returns one row: ``n_a, n_b, twice_u_a, n_tied_groups, z,
    effect_r`` (twice_u_a = 2·U_A exact; n_tied_groups = distinct
    metric values shared by ≥2 users; z without continuity
    correction, 0 when σ = 0).
    """
    bucket_w = 1 << 20  # micro-unit bucket width for the hierarchy

    arm = hashes.ab_arm(F.col(user_col)).cast("int")
    per_user = (
        events.select(
            arm.alias("arm"),
            F.col(user_col).alias("__u"),
            F.floor(F.col(value_col) * 1000000.0 + 0.5)
            .cast("long")
            .alias("__v"),
        )
        .groupBy("arm", "__u")
        .agg(F.sum("__v").alias("m"))
    )
    # one row per distinct metric value with per-arm counts
    vals = per_user.groupBy("m").agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("na"),
        F.sum((F.col("arm") == 1).cast("long")).alias("nb"),
    )
    # exact integer floor division (negative-safe) for the bucket key
    blk = ((F.col("m") - F.pmod(F.col("m"), F.lit(bucket_w)))
           / F.lit(bucket_w)).cast("long")
    vals = vals.withColumn("__blk", blk)

    intra = (
        Window.partitionBy("__blk")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = vals.withColumn(
        "__lb", F.coalesce(F.sum("nb").over(intra), F.lit(0))
    )
    blk_w = (
        Window.orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        vals.groupBy("__blk")
        .agg(F.sum("nb").alias("__bn"))
        .select(
            "__blk",
            F.coalesce(F.sum("__bn").over(blk_w), F.lit(0)).alias("__ob"),
        )
    )
    t = (F.col("na") + F.col("nb")).cast("decimal(38,0)")
    stats = (
        local.join(F.broadcast(offsets), "__blk")
        .agg(
            F.sum("na").cast("long").alias("n_a"),
            F.sum("nb").cast("long").alias("n_b"),
            F.sum(
                F.col("na") * (2 * (F.col("__ob") + F.col("__lb"))
                               + F.col("nb"))
            ).cast("long").alias("twice_u_a"),
            F.sum(
                ((F.col("na") + F.col("nb")) > 1).cast("long")
            ).cast("long").alias("n_tied_groups"),
            F.sum(t * t * t - t).alias("__tie_cubes"),
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    sigma2 = (
        na * nb / F.lit(12.0)
        * ((n + 1)
           - F.col("__tie_cubes").cast("double") / (n * (n - 1)))
    )
    z = F.when(
        sigma2 > 0,
        (F.col("twice_u_a").cast("double") - na * nb)
        / (F.lit(2.0) * F.sqrt(sigma2)),
    ).otherwise(F.lit(0.0))
    return stats.select(
        "n_a",
        "n_b",
        "twice_u_a",
        "n_tied_groups",
        F.round(z, 6).alias("z"),
        F.round(
            F.col("twice_u_a").cast("double") / (na * nb) - 1.0, 6
        ).alias("effect_r"),
    )
