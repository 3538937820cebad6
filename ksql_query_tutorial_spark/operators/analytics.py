"""Event-log analytics: schemaless-JSON property extraction and weekly
cohort retention.

The reference pipeline's values are schemaless JSON (JsonConverter with
``schemas.enable=false`` — reference ``all.sql:17``, ``README.md:57-59``);
ksqlDB declares a typed view over them per collection. ``props_stats``
is that same pattern applied to an embedded JSON column: a typed
``from_json`` projection (JVM-side, codegen — never a Python JSON loop)
feeding a plain aggregate. ``weekly_retention`` is the classic cohort
matrix every growth/behavior pipeline derives from an event stream.

Scale design:
- ``props_stats``: narrow parse + one groupBy on a low-cardinality key;
  partial aggregation collapses each map task to |event_types| rows, so
  the exchange is tiny at any corpus size.
- ``weekly_retention``: ONE full-data exchange (on ``user_id``).
  ``collect_set`` of per-user active weeks is bounded by the calendar
  (52/year), map-side partials dedupe before the shuffle, and the final
  (cohort, offset) rollup is |weeks|² cells — driver-safe forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.functions import hashes
from ksql_query_tutorial_spark.session import local_frame


def props_stats(
    df: DataFrame,
    props_col: str = "props",
    key: str = "k",
    group_col: str = "event_type",
) -> DataFrame:
    """Per-``group_col`` stats of the integer property ``key`` extracted
    from the schemaless-JSON ``props_col``.

    Returns one row per group: ``n_events, n_users, sum_k, min_k,
    max_k, avg_k`` (avg rounded to 6 for oracle-stable compare).
    """
    k = F.from_json(F.col(props_col), f"{key} BIGINT")[key]
    return (
        df.withColumn("_k", k)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("_k").alias("sum_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
            F.round(F.avg("_k"), 6).alias("avg_k"),
        )
    )


def weekly_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the ISO week
    (Monday-start, via ``date_trunc``) of their first event; each cell
    counts the cohort's users active ``week_offset`` weeks later.

    Both engines truncate weeks to Monday 00:00, so offsets are exact
    multiples of 7 days and the integer division is lossless.

    Returns ``cohort_week, week_offset, n_users`` — one row per
    non-empty cell.
    """
    wk = F.date_trunc("week", F.col(ts_col))
    per_user = (
        df.select(F.col(user_col).alias("user_id"), wk.alias("wk"))
        .groupBy("user_id")
        .agg(
            F.min("wk").alias("cohort_week"),
            F.collect_set("wk").alias("weeks"),
        )
    )
    # after the explode every (user, week) pair is unique, so count(*)
    # IS the distinct-user count — no second distinct aggregation.
    return (
        per_user.select(
            "cohort_week", F.explode("weeks").alias("wk")
        )
        .withColumn(
            "week_offset",
            (F.datediff("wk", "cohort_week") / 7).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def hourly_anomaly(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Volume-anomaly flags over the event stream: hourly event counts
    per type, z-scored against that type's own mean/stddev, flagged
    when ``|z| > z_threshold`` (the standard ops-dashboard outlier
    pass).

    Determinism design (r6): ``stddev_samp`` merges per-partition M2
    moments in shuffle-fetch order, which varies run-to-run, so its
    low bits — and a ROUND(z, 6) on a boundary — could drift. The
    mean/stddev now come from EXACT integer count moments (Σc, Σc² as
    decimal partials, order-independent) with the sample-variance
    closed form evaluated over identical doubles in both engines.

    Scale design: the hourly rollup is the only full-data exchange
    (partial counts collapse each map task to |types × hours| rows);
    the per-type stats table is |types| rows and broadcast back onto
    the hourly cells, so the join adds no shuffle. A single-hour type
    (stddev NULL) flags false, never NULL.

    Returns ``event_type, hour, n_events, z, is_anomaly``.
    """
    hourly = (
        df.groupBy(
            F.col(type_col).alias("event_type"),
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    dec = "decimal(38,0)"
    c = F.col("n_events").cast(dec)
    moments = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("__nh"),
        F.sum(c).alias("__s1"),
        F.sum(c * c).alias("__s2"),
    )
    nh = F.col("__nh").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    mean = s1 / nh
    # Σ(c−m)² = s2 − s1·m; sample variance over nh−1; stddev_samp's
    # NULL-at-one-row behavior preserved via the nh > 1 guard
    std = F.when(
        F.col("__nh") > 1,
        F.sqrt(F.greatest((s2 - s1 * mean) / (nh - F.lit(1.0)), F.lit(0.0))),
    )
    stats = moments.select(
        "event_type", mean.alias("_mean"), std.alias("_std")
    )
    z = (F.col("n_events") - F.col("_mean")) / F.col("_std")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .withColumn("z", F.round(z, 6))
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(z) > F.lit(z_threshold), F.lit(False)),
        )
        .select("event_type", "hour", "n_events", "z", "is_anomaly")
    )


def moving_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
    window_rows: int = 3,
) -> DataFrame:
    """Per-key ordered time-series smoothing: trailing moving average
    over the last ``window_rows`` events and the step delta vs the
    previous event (the lag/lead family the reference's ordered-window
    tutorials gesture at, as a batch query).

    All three window expressions share ONE ``partitionBy(user)
    orderBy(ts, tiebreak)`` spec, so Catalyst plans a single Exchange +
    Sort and stacks the windows — per-key state is ``window_rows``
    values. The tiebreak column makes frames deterministic under equal
    timestamps (retry/oracle-stable).

    Returns ``user_col, ts, event_id, value, moving_avg, delta``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(order_tiebreak).asc()
    )
    wavg = w.rowsBetween(-(window_rows - 1), 0)
    return df.select(
        user_col, ts_col, order_tiebreak, value_col,
        F.round(F.avg(value_col).over(wavg), 6).alias("moving_avg"),
        F.round(
            F.col(value_col) - F.lag(value_col, 1).over(w), 6
        ).alias("delta"),
    )


def session_paths(
    df: DataFrame,
    gap_minutes: int = 30,
    max_steps: int = 8,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Session path mining: gap-sessionize each user's event stream,
    render each session's first ``max_steps`` event types as an ordered
    path string, and aggregate the corpus-wide path histogram (the
    "top user journeys" analytic behind funnel discovery).

    Scale design: ONE full-data exchange. Sessionization is the classic
    gaps-and-islands pair — a ``lag`` flag and a running ``sum`` — as
    two stacked windows over the SAME ``partitionBy(user) orderBy(ts,
    tiebreak)`` spec (single Exchange + Sort); the per-session gather
    groups on ``(user, session)``, which hash-partitioning on ``user``
    already clusters, so Catalyst inserts no second full exchange. The
    path rollup's input is one row per session and its output is
    |distinct paths| — both bounded far below the event count. Per-user
    event counts bound every window buffer, and ``max_steps`` bounds
    the path payload. The tiebreak column makes session boundaries and
    step order deterministic under equal timestamps.

    Returns ``path, n_sessions, n_users, avg_events`` (avg rounded to 6
    for oracle-stable compare), one row per distinct path.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    # ts is TIMESTAMP_NTZ in the fixture; route through a tz-cast (the
    # caller pins session tz = UTC) so unix_micros matches the oracle's
    # epoch_us over the naive timestamp exactly — no sub-second loss.
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = F.lit(gap_minutes * 60 * 1_000_000)
    new_sess = us - F.lag(us, 1).over(w) > gap
    sessions = (
        df.withColumn("_new", F.when(new_sess, 1).otherwise(0))
        .withColumn(
            "_sess",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(user_col, "_sess")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("ts"),
                        F.col(tiebreak_col).alias("tb"),
                        F.col(type_col).alias("et"),
                    )
                )
            ).alias("evs")
        )
        .select(
            user_col,
            F.array_join(
                F.transform(
                    F.slice("evs", 1, max_steps), lambda s: s["et"]
                ),
                ">",
            ).alias("path"),
            F.size("evs").alias("n_events"),
        )
    )
    return sessions.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct(user_col).alias("n_users"),
        F.round(F.avg("n_events"), 6).alias("avg_events"),
    )


def value_histogram(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    bin_width: float = 5.0,
) -> DataFrame:
    """Fixed-width value histogram per group — the numeric profiling
    rollup behind warehouse dashboards and data-quality monitors.

    ``bin = floor(value / bin_width)`` is one IEEE double divide + floor
    (identical in any engine, so the histogram is oracle-exact, unlike
    quantile sketches). One grouped aggregate whose exchange carries
    |groups × occupied bins| cells after map-side partials — bounded by
    the value range, not the event count. NULL values land in a NULL
    bin so the histogram still accounts for every row.

    Returns ``group, bin, bin_lo, n, min_v, max_v`` per occupied bin.
    """
    bin_col = F.floor(F.col(value_col) / F.lit(float(bin_width)))
    return (
        df.withColumn("__bin", bin_col)
        .groupBy(F.col(group_col).alias("group"), F.col("__bin").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
        .withColumn("bin_lo", F.round(F.col("bin") * F.lit(float(bin_width)), 6))
        .select("group", "bin", "bin_lo", "n", "min_v", "max_v")
    )


def transition_matrix(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts/probabilities between
    consecutive event types per user — the sequence-model fit artifact
    (and anomalous-transition detector) next to the funnel and path
    ops.

    ONE full-data exchange: the ``lag`` window keys on the user; the
    (prev, cur) rollup input is one row per event and its output is
    |types|² cells with map-side partials. The row-normalizing totals
    join is |types| rows broadcast. Tiebreak makes consecutive-pair
    identity deterministic under equal timestamps.

    Returns ``prev_type, next_type, n, p`` (p = row-normalized
    probability, rounded 6).
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    pairs = (
        df.withColumn("__prev", F.lag(type_col).over(w))
        .filter(F.col("__prev").isNotNull())
        .groupBy(
            F.col("__prev").alias("prev_type"),
            F.col(type_col).alias("next_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("__tot"))
    return (
        pairs.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type", "next_type", "n",
            F.round(
                F.col("n").cast("double") / F.col("__tot").cast("double"), 6
            ).alias("p"),
        )
    )


def last_touch_attribution(
    df: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    ttl_minutes: int = 1440,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Last-touch attribution: credit each CONVERSION event to the most
    recent preceding touch event by the same user within ``ttl_minutes``
    (the marketing-attribution primitive; the funnel answers "did the
    user ever complete the sequence", this answers "which touch gets
    credit for THIS conversion").

    ONE full-data exchange: a running ``max(struct(ts, id, type))``
    over the touch events, evaluated per row with an unbounded-
    preceding-to-previous-row frame on the user-keyed (ts, tiebreak)
    ordering, then a TTL filter. No join, no per-conversion scan.
    Strictly-before semantics via the ``-1`` frame end; equal-timestamp
    touches order by the tiebreak. Conversions with no in-TTL touch
    keep NULL touch columns (unattributed, counted not dropped).

    Returns ``user_id, conversion_id, conversion_ts, touch_id,
    touch_ts, touch_type, mins_since_touch (rounded 6)``.
    """
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    touch = F.when(
        F.col(type_col).isin(list(touch_types)),
        F.struct(
            us.alias("us"),
            F.col(tiebreak_col).alias("id"),
            F.col(type_col).alias("tt"),
        ),
    )
    ttl_us = int(ttl_minutes) * 60 * 1_000_000
    out = (
        df.withColumn("__last", F.max(touch).over(w))
        .filter(F.col(type_col) == conversion_type)
        .withColumn(
            "__ok",
            F.col("__last").isNotNull()
            & (us - F.col("__last.us") <= F.lit(ttl_us)),
        )
    )
    # Portable fixed-point rounding (the embedding_quantize precedent):
    # minutes rounded to 6 dp == round_half_up(delta_us / 60) micro-
    # minutes. Integer (delta+30)/60 is exact — no engine lands a
    # binary-float ROUND(x, 6) on a .5 boundary differently (the r5
    # latent 514.079331-vs-514.07933 row). The double division is safe:
    # the exact quotient's distance from any integer is >= 1/60, far
    # above one ulp at <= 1.44e9, so the cast truncation is exact.
    delta_us = us - F.col("__last.us")
    mins = (
        ((delta_us + F.lit(30)) / F.lit(60)).cast("long").cast("double")
        / F.lit(1e6)
    )
    return out.select(
        F.col(user_col).alias("user_id"),
        F.col(tiebreak_col).alias("conversion_id"),
        F.col(ts_col).alias("conversion_ts"),
        F.when(F.col("__ok"), F.col("__last.id")).alias("touch_id"),
        F.when(F.col("__ok"), F.timestamp_micros(F.col("__last.us")).cast(df.schema[ts_col].dataType)).alias("touch_ts"),
        F.when(F.col("__ok"), F.col("__last.tt")).alias("touch_type"),
        F.when(F.col("__ok"), mins).alias("mins_since_touch"),
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a changelog: per
    key, collapse consecutive repeats of the tracked state and emit
    one VERSION row per distinct run with its validity interval —
    ``valid_to`` is the next version's start (NULL = current). The
    dimension-history primitive every warehouse derives from CDC
    feeds (and the interval table as-of joins then consume).

    ONE full-data exchange: change detection (``lag``), version close
    (``lead``) and the version counter are three stacked windows on
    the same ``partitionBy(key) orderBy(ts, tiebreak)`` spec; the
    repeat filter runs between them on the same partitioning.

    Returns ``key, state, version (1-based per key), valid_from,
    valid_to, n_changes_total``.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    changes = (
        df.withColumn("__prev", F.lag(state_col).over(w))
        .filter(
            F.col("__prev").isNull()
            | (~F.col("__prev").eqNullSafe(F.col(state_col)))
        )
    )
    w2 = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    return (
        changes.withColumn("valid_to", F.lead(ts_col).over(w2))
        .withColumn("version", F.row_number().over(w2))
        .withColumn(
            "n_changes_total",
            F.count(F.lit(1)).over(Window.partitionBy(key_col)),
        )
        .select(
            F.col(key_col).alias("key"),
            F.col(state_col).alias("state"),
            "version",
            F.col(ts_col).alias("valid_from"),
            "valid_to",
            "n_changes_total",
        )
    )


def active_users(
    df: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """DAU / rolling-WAU engagement metrics: per calendar day, the
    exact count of distinct active users that day (DAU) and over the
    trailing ``window_days`` (WAU), plus the DAU/WAU stickiness ratio
    — the canonical product-engagement rollup.

    Scale shape: the stream first collapses to distinct (day, user)
    pairs (ONE full-data exchange with map-side dedup partials). The
    rolling distinct is NOT a windowed set union — each (day, user)
    pair fans out to the ≤ ``window_days`` target days it makes the
    user active for (a bounded explode), and one distinct-count
    aggregate per target day finishes. Exchanges carry (day, user)
    rows — calendar × users bounded — never raw events. Target days
    with no activity in their trailing window simply don't appear
    (metrics over observed days; calendars with gaps join a spine).

    Returns ``day, dau, wau, stickiness (rounded 6)`` per observed
    day.
    """
    day = F.date_trunc("DAY", F.col(ts_col)).cast("date")
    pairs = (
        df.select(day.alias("day"), F.col(user_col).alias("user_id"))
        .distinct()
    )
    dau = pairs.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    contrib = pairs.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), window_days - 1),
            )
        ).alias("target_day"),
        "day",
        "user_id",
    )
    wau = (
        contrib.groupBy("target_day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .withColumnRenamed("target_day", "day")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day", "dau", "wau",
            F.round(
                F.col("dau").cast("double") / F.col("wau").cast("double"), 6
            ).alias("stickiness"),
        )
    )


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


def session_stats(
    df: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-day session quality metrics: session count, distinct users,
    mean session duration and depth, bounce rate — the engagement
    rollup next to `session_paths`' journey histogram (same gap
    sessionization, different finishing aggregate).

    Scale design mirrors session_paths: ONE full-data exchange on
    ``user_col``; the lag flag and the running session index stack on
    the SAME window spec (single Exchange + Sort); the per-session
    collapse groups on (user, session) which that partitioning already
    clusters; the final per-day rollup sees one row per SESSION.
    Duration averages over exact integer microsecond bounds (min/max
    per session), so only the final divide touches doubles and the
    oracle reproduces it bitwise.

    Returns ``day, n_sessions, n_users, avg_session_sec, avg_events,
    bounce_rate`` (doubles rounded 6), one row per session-start day.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = F.lit(gap_minutes * 60 * 1_000_000)
    new_sess = us - F.lag(us, 1).over(w) > gap
    per_sess = (
        df.withColumn("_new", F.when(new_sess, 1).otherwise(0))
        .withColumn(
            "_sess",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(user_col, "_sess")
        .agg(
            F.min(F.col(ts_col)).alias("start_ts"),
            F.min(us).alias("start_us"),
            F.max(us).alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return (
        per_sess.groupBy(
            F.date_trunc("DAY", "start_ts").cast("date").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct(user_col).alias("n_users"),
            F.round(
                F.avg(F.col("end_us") - F.col("start_us")) / F.lit(1000000.0),
                6,
            ).alias("avg_session_sec"),
            F.round(F.avg("n_events"), 6).alias("avg_events"),
            F.round(
                F.avg(F.when(F.col("n_events") == 1, 1).otherwise(0)), 6
            ).alias("bounce_rate"),
        )
    )


def decayed_engagement(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    halflife_days: float = 7.0,
    t_ref: str | None = None,
) -> DataFrame:
    """Per-user exponentially time-decayed engagement score — the
    feature-store staple ``sum(value · 2^(-age/halflife))`` where age
    is measured back from the corpus-wide latest event (deterministic,
    unlike ``now()``) or, with ``t_ref`` ('YYYY-MM-DD HH:MM:SS'), from
    a caller-fixed reference time. Rows come back unordered: a batch
    caller sorts them, and a stream cannot (sorts are unsupported in
    update mode).

    The ``t_ref`` form is also the STREAMING operator: with the
    reference pinned (no corpus-max subquery), the same plan runs
    unchanged on a stream — a stateful keyed aggregation whose state is
    one (count, sum, max) triple per user, and whose weighted partial
    sums merge associatively. Proven by replay in
    tests/test_streaming_replay.py.

    Scale design: the reference timestamp is a 1-row aggregate
    broadcast back over the table (no second full pass through a
    window), then ONE user-keyed exchange with map-side partial sums.
    Weights are computed in codegen (``pow``), timestamps via the
    microsecond-precision ``cast(double)`` so the oracle's
    ``epoch_us/1e6`` matches bit-for-bit.
    """
    # ts is TIMESTAMP_NTZ in the fixture; route through a tz-cast (the
    # caller pins session tz = UTC) so unix_micros matches the oracle's
    # epoch_us over the naive timestamp exactly — no sub-second loss.
    sec = F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1e6)
    if t_ref is not None:
        src = events
        ref_sec = (
            F.unix_micros(F.lit(t_ref).cast("timestamp")) / F.lit(1e6)
        )
    else:
        src = events.crossJoin(
            F.broadcast(events.agg(F.max(ts_col).alias("__t_max")))
        )
        ref_sec = (
            F.unix_micros(F.col("__t_max").cast("timestamp")) / F.lit(1e6)
        )
    w = F.pow(F.lit(2.0), -(ref_sec - sec) / F.lit(86400.0 * halflife_days))
    return (
        src
        .groupBy(user_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col(value_col) * w), 6).alias("decayed_value"),
            F.max(ts_col).alias("last_ts"),
        )
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple: the histogram
    of equivalence-class sizes plus the at-risk flag (class smaller
    than ``k`` — rows a linkage attack can single out) — the
    data-governance check run before releasing or joining a dataset.

    Scale design: one exchange on the quasi-identifier key (map-side
    partials), then a second aggregate keyed on the class SIZE — a
    domain bounded by the largest class, so its exchange is
    negligible. No windows, no self-joins.

    Returns ``class_size, n_classes, n_rows, at_risk`` ordered by
    class size.
    """
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("__sz")
    )
    return (
        classes.groupBy(F.col("__sz").alias("class_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("__sz").cast("long").alias("n_rows"),
        )
        .withColumn("at_risk", F.col("class_size") < k)
        .select(
            F.col("class_size").cast("long").alias("class_size"),
            "n_classes", "n_rows", "at_risk",
        )
        .orderBy("class_size")
    )


def seasonal_baseline_error(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    period_hours: int = 168,
) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each (type, hour)'s
    event count with the count one period (default: one week) earlier
    and report per-type MAE / bias — the zero-parameter baseline every
    volume-forecasting model must beat, and a drift alarm when the
    error jumps.

    Scale design: ONE hourly rollup (tiny: |types × hours| rows), then
    a self-equi-join of that bounded table on the shifted hour — the
    corpus-sized data is touched once. Hours with no events on either
    side are absent rows and simply don't score (documented; a dense
    calendar spine would impute zeros).

    Returns ``event_type, n_hours, mae, bias`` (rounded 6) ordered by
    type.
    """
    hour = F.date_trunc("HOUR", F.col(ts_col))
    hourly = (
        events.groupBy(
            F.col(type_col).alias("etype"), hour.alias("h")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    prev = hourly.select(
        F.col("etype").alias("p_etype"),
        (F.col("h") + F.expr(f"INTERVAL {period_hours} HOURS")).alias(
            "p_h"
        ),
        F.col("c").alias("c_prev"),
    )
    scored = hourly.join(
        prev,
        (F.col("etype") == F.col("p_etype")) & (F.col("h") == F.col("p_h")),
    )
    err = F.col("c") - F.col("c_prev")
    return (
        scored.groupBy(F.col("etype").alias(type_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.round(F.avg(F.abs(err)), 6).alias("mae"),
            F.round(F.avg(err), 6).alias("bias"),
        )
        .orderBy(type_col)
    )


def linear_attribution(
    df: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    ttl_minutes: int = 1440,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Linear multi-touch attribution: every conversion splits one
    unit of credit EQUALLY across all of the user's touch events in
    the strictly-preceding TTL window (the companion model to
    last-touch — last-touch rewards closers, linear rewards the whole
    journey).

    Spark-first design: NO conversion→touch join anywhere. Per-touch-
    type counts per conversion come from RANGE-frame windows over the
    microsecond timestamp on ONE user-keyed exchange (frame =
    ``[ts−TTL, ts−1µs]``, so same-instant touches are excluded
    exactly like last-touch's ``-1`` row frame); the credit rollup is
    a single tiny aggregate stacked to one row per touch type plus
    the ``(none)`` bucket for unattributed conversions.

    Returns ``touch_type, reached_conversions, credit`` (credit
    rounded 6, summing to attributed conversions), ordered by type.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ttl_us = int(ttl_minutes) * 60 * 1_000_000
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col("__us"))
        .rangeBetween(-ttl_us, -1)
    )
    typed = df.select(
        F.col(type_col).alias("__t"), us.alias("__us"), user_col
    )
    # coalesce: an EMPTY frame (conversion with no preceding events at
    # all) sums to NULL, which would silently drop the row from every
    # bucket including "(none)" — it belongs in "(none)".
    counts = [
        F.coalesce(
            F.sum(F.when(F.col("__t") == t, 1).otherwise(0)).over(w),
            F.lit(0),
        ).alias(f"__n_{i}")
        for i, t in enumerate(touch_types)
    ]
    conv = typed.select("*", *counts).filter(
        F.col("__t") == conversion_type
    )
    total = sum(F.col(f"__n_{i}") for i in range(len(touch_types)))
    aggs = []
    for i, t in enumerate(touch_types):
        n = F.col(f"__n_{i}")
        aggs += [
            F.count(F.when(n > 0, 1)).cast("long")
            .alias(f"__reached_{i}"),
            F.round(
                F.sum(
                    F.when(total > 0, n.cast("double") / total).otherwise(
                        0.0
                    )
                ),
                6,
            ).alias(f"__credit_{i}"),
        ]
    aggs.append(
        F.count(F.when(total == 0, 1)).cast("long").alias("__none")
    )
    wide = conv.agg(*aggs)
    stack_args = []
    for i, t in enumerate(touch_types):
        stack_args += [
            F.lit(t), F.col(f"__reached_{i}"), F.col(f"__credit_{i}"),
        ]
    stack_args += [F.lit("(none)"), F.col("__none"), F.lit(0.0)]
    return (
        wide.select(
            F.stack(
                F.lit(len(touch_types) + 1), *stack_args
            ).alias("touch_type", "reached_conversions", "credit")
        )
        .orderBy("touch_type")
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


def daily_gap_fill(
    events: DataFrame,
    event_type: str = "purchase",
) -> DataFrame:
    """Calendar gap-fill + forward fill: densify a sparse per-user
    daily series onto a contiguous date spine and carry the last
    observed value across the gaps — the feature-store prep step for
    any model that consumes a regular time grid (missing days must be
    explicit zeros / carried values, not absent rows).

    Scale design: the daily rollup is one user-keyed exchange with
    map-side partials; the spine is ``sequence(min_day, max_day)``
    exploded per user — output bounded by |users| x |calendar days|,
    generated executor-side (never a driver loop). The spine⋈daily
    join and the forward-fill window reuse the same user keying. The
    fill itself is the portable two-window trick: a running count of
    non-null observations partitions each user's timeline into carry
    groups, then ``max`` over (user, group) propagates the value —
    identical semantics in ANSI SQL, no ``IGNORE NULLS`` dialect
    dependency.
    """
    daily = (
        events.filter(F.col("event_type") == event_type)
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.round(F.sum("value"), 6).alias("rev"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
        .select(
            "user_id",
            F.explode(F.sequence("dmin", "dmax")).alias("day"),
        )
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    order_w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = F.sum(
        F.when(F.col("rev").isNotNull(), F.lit(1)).otherwise(F.lit(0))
    ).over(order_w)
    filled = joined.withColumn("__grp", grp).withColumn(
        "filled_rev", F.max("rev").over(Window.partitionBy("user_id", "__grp"))
    )
    return filled.select(
        "user_id",
        "day",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.col("rev").isNotNull().cast("int").alias("observed"),
        "filled_rev",
    ).orderBy("user_id", "day")


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


def hopping_window_counts(
    df: DataFrame,
    window_hours: int = 24,
    hop_hours: int = 6,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Hopping-window engagement counts: events and distinct users per
    overlapping window of ``window_hours`` sliding every ``hop_hours``
    — the batch twin of Structured Streaming's
    ``window(ts, '24 hours', '6 hours')`` aggregate (the tutorial's
    windowed-join family, SURVEY §2.4, generalized to overlapped
    windows).

    Scale design: each event fans out to exactly
    ``window_hours / hop_hours`` hop-aligned window starts (a bounded
    explode computed from integer epoch arithmetic — no join against a
    window spine), and ONE window-keyed rollup finishes; distinct
    users ride the same exchange as a two-phase distinct. Exchanges
    carry (window, user) pairs, never multiplied raw rows.

    Returns ``window_start, n_events, n_users`` per window that saw at
    least one event, ordered by window start.
    """
    if window_hours % hop_hours:
        raise ValueError("window_hours must be a multiple of hop_hours")
    n_hops = window_hours // hop_hours
    hop_us = hop_hours * 3_600_000_000
    h = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp")) / hop_us)
    contrib = df.select(
        F.col(user_col).alias("user_id"),
        F.explode(
            F.sequence(h - (n_hops - 1), h)
        ).alias("__hop"),
    )
    return (
        contrib.groupBy(
            F.timestamp_micros(F.col("__hop") * hop_us).alias("window_start")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("window_start")
    )


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


def slo_burn_down(
    df: DataFrame,
    target_rate: float = 0.1,
    ts_col: str = "ts",
    type_col: str = "event_type",
    error_type: str = "error",
) -> DataFrame:
    """Error-budget burn-down: per hour, the error share and the
    cumulative budget-consumption ratio against a target error rate —
    the SRE readout that pages when the ratio crosses 1.

    Scale design: ONE hourly rollup over the stream (map-side
    partials, ≤|hours| cells); the cumulative sums are a window over
    the bounded cell table (global ordering over calendar cells, not
    events). Ratios divide exact integer counts once per cell.

    Returns ``hour, n_events, n_errors, err_rate, burn_ratio``
    (rounded 6) ordered by hour; burn_ratio > 1 means the cumulative
    error budget is exhausted.
    """
    is_err = (F.col(type_col) == error_type).cast("long")
    cells = (
        df.groupBy(
            F.date_trunc("HOUR", F.col(ts_col)).alias("hour")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(is_err).cast("long").alias("n_errors"),
        )
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    cum_err = F.sum("n_errors").over(w).cast("double")
    cum_all = F.sum("n_events").over(w).cast("double")
    return (
        cells.select(
            "hour",
            "n_events",
            "n_errors",
            F.round(
                F.col("n_errors").cast("double")
                / F.col("n_events").cast("double"),
                6,
            ).alias("err_rate"),
            F.round(
                cum_err / (F.lit(float(target_rate)) * cum_all), 6
            ).alias("burn_ratio"),
        )
        .orderBy("hour")
    )


def bot_flags(
    df: DataFrame,
    rate_threshold: int = 20,
    min_active_hours: int = 2,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Bot-traffic screen: per user, the peak and mean hourly event
    rate and a flag for sustained superhuman activity (peak rate over
    the threshold AND at least ``min_active_hours`` active hours) —
    the traffic-cleaning gate a behavioral-training pipeline runs
    before everything else.

    Scale design: TWO bounded rollups — (user, hour) cells first
    (map-side partials; the only full-data exchange), then per-user
    stats over the cells. Exact integer counts; the mean divides once.

    Returns ``user_id, n_events, active_hours, peak_hourly_rate,
    avg_hourly_rate, is_bot`` ordered by user id.
    """
    cells = (
        df.groupBy(
            F.col(user_col).alias("user_id"),
            F.date_trunc("HOUR", F.col(ts_col)).alias("__h"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    per_user = cells.groupBy("user_id").agg(
        F.sum("__n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("active_hours"),
        F.max("__n").cast("long").alias("peak_hourly_rate"),
    )
    return (
        per_user.select(
            "user_id",
            "n_events",
            "active_hours",
            "peak_hourly_rate",
            F.round(
                F.col("n_events").cast("double")
                / F.col("active_hours").cast("double"),
                4,
            ).alias("avg_hourly_rate"),
            (
                (F.col("peak_hourly_rate") >= rate_threshold)
                & (F.col("active_hours") >= min_active_hours)
            ).alias("is_bot"),
        )
        .orderBy("user_id")
    )


def behavior_entropy(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user behavioral entropy: the Shannon entropy (nats) of each
    user's event-type distribution — 0 = single-minded, ln(|types|) =
    uniform; the feature that separates scripted/bot traffic from
    organic browsing in behavioral models.

    Scale design: (user, type) cells first (the only full exchange,
    map-side partials), then ONE per-user reduction using
    ``H = ln(n) − (Σ c·ln c)/n`` — counts stay exact integers and the
    only floats are per-row ``ln`` over those integers, so the rounded
    entropy is engine-portable (the zipf/heaps precedent).

    Returns ``user_id, n_events, n_types, entropy (rounded 6)``
    ordered by user id.
    """
    cells = df.groupBy(
        F.col(user_col).alias("user_id"), F.col(type_col).alias("__t")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    c = F.col("__c").cast("double")
    per_user = cells.groupBy("user_id").agg(
        F.sum("__c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(c * F.log(c)).alias("__clnc"),
    )
    n = F.col("n_events").cast("double")
    return (
        per_user.select(
            "user_id",
            "n_events",
            "n_types",
            F.round(F.log(n) - F.col("__clnc") / n, 6).alias("entropy"),
        )
        .orderBy("user_id")
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l_threshold: int = 3,
) -> DataFrame:
    """l-diversity audit: for every quasi-identifier equivalence class,
    how many DISTINCT sensitive values it contains (distinct
    l-diversity) and the entropy variant ``exp(H)`` (entropy
    l-diversity) — the companion check to :func:`k_anonymity`, since a
    class can be large (k-anonymous) yet leak the sensitive attribute
    outright when every member shares one value.

    Determinism design: the entropy is computed from exact integer
    (class, value) counts as ``ln(n) − Σ c·ln(c) / n`` — the same
    order-independent form the behavioral-entropy operator uses, so
    any SQL engine reproduces it bit-for-bit from the same counts.

    Scale design: ONE exchange keyed on (quasi tuple, sensitive value)
    with map-side partial counts, then a second aggregate keyed on the
    quasi tuple alone — output bounded by the quasi-identifier domain.
    No windows, no self-joins, no driver actions.

    Returns ``*quasi_cols, n_rows, distinct_l, entropy_l, at_risk``
    (``at_risk`` ⇔ distinct_l < l_threshold) ordered by the quasi
    columns.
    """
    cells = df.groupBy(
        *quasi_cols, F.col(sensitive_col).alias("__sv")
    ).agg(F.count(F.lit(1)).alias("__c"))
    c = F.col("__c").cast("double")
    return (
        cells.groupBy(*quasi_cols)
        .agg(
            F.sum("__c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("distinct_l"),
            F.sum(c * F.log(c)).alias("__clnc"),
        )
        .select(
            *quasi_cols,
            "n_rows",
            "distinct_l",
            F.round(
                F.exp(
                    F.log(F.col("n_rows").cast("double"))
                    - F.col("__clnc") / F.col("n_rows").cast("double")
                ),
                6,
            ).alias("entropy_l"),
            (F.col("distinct_l") < l_threshold).alias("at_risk"),
        )
        .orderBy(*quasi_cols)
    )


CONC_BLOCK_US = 3_600 * 1_000_000  # hour blocks for the boundary cumsum


def session_concurrency(
    df: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning
    occupancy metric (how many sessions are simultaneously open),
    computed as a sweep line over session boundaries: +1 at each
    session start, −1 just after its end, concurrency = the running
    sum, and a day's peak is the maximum concurrency observed at that
    day's session-START instants (a step function that only rises at
    starts attains its global maximum at one, so the reported peaks
    bound true occupancy exactly on any day that starts a session).

    Scale design: the same ONE user-keyed exchange as session_stats
    sessionizes the stream; boundaries collapse to one row per
    DISTINCT microsecond instant (groupBy, map-side partials); the
    running sum over instants is a HIERARCHICAL prefix sum in the
    pack_sequences mold — intra-block cumulative window partitioned by
    hour block (parallel), per-block totals, exclusive cumsum over the
    tiny block table only, broadcast back — never one global
    single-partition window over the corpus timeline.

    Returns ``day, n_starts, peak_concurrency`` ordered by day, one
    row per day with ≥1 session start.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = F.lit(gap_minutes * 60 * 1_000_000)
    new_sess = us - F.lag(us, 1).over(w) > gap
    per_sess = (
        df.withColumn("_new", F.when(new_sess, 1).otherwise(0))
        .withColumn(
            "_sess",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(user_col, "_sess")
        .agg(F.min(us).alias("start_us"), F.max(us).alias("end_us"))
    )
    # explode, not unionAll-of-two-selects: a union re-executes the
    # whole sessionization pipeline (window + groupBy) per branch (r7)
    bounds = per_sess.select(
        F.explode(
            F.array(
                F.struct(F.col("start_us").alias("t"), F.lit(1).alias("d")),
                F.struct(
                    (F.col("end_us") + 1).alias("t"), F.lit(-1).alias("d")
                ),
            )
        ).alias("e")
    ).select("e.t", "e.d")
    inst = bounds.groupBy("t").agg(
        F.sum("d").alias("net"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("starts"),
    )
    blk = (F.col("t") / F.lit(CONC_BLOCK_US)).cast("long")
    base = inst.withColumn("__blk", blk)
    intra_w = (
        Window.partitionBy("__blk")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = base.withColumn("__cum_in", F.sum("net").over(intra_w))
    blk_w = Window.orderBy("__blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    blk_off = (
        base.groupBy("__blk")
        .agg(F.sum("net").alias("__tot"))
        .withColumn(
            "__off", F.coalesce(F.sum("__tot").over(blk_w), F.lit(0))
        )
        .select("__blk", "__off")
    )
    cum = local.join(F.broadcast(blk_off), "__blk").withColumn(
        "__conc", F.col("__off") + F.col("__cum_in")
    )
    return (
        cum.filter(F.col("starts") > 0)
        .groupBy(
            F.to_date(F.timestamp_micros(F.col("t"))).alias("day")
        )
        .agg(
            F.sum("starts").cast("long").alias("n_starts"),
            F.max("__conc").cast("long").alias("peak_concurrency"),
        )
        .orderBy("day")
    )


def time_weighted_value(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average value per (event type, day) — each
    reading holds until the SAME user's next event (sample-and-hold),
    so a value that persisted for an hour weighs 60× one replaced
    after a minute. The standard aggregate for irregularly-sampled
    state (sensor readings, prices, engagement levels) where the
    arithmetic mean over-weights busy periods; each user's final
    reading has no holding interval and is excluded (right-open
    sample-and-hold, documented).

    Determinism design: holding durations are exact integer
    microsecond differences converted to seconds by the SAME double
    division in both engines, and the value·duration products stay
    ≤ ~1e8 — double sums keep full integer-part precision, so the
    rounded quotient is engine-portable (the q23 precedent).

    Scale design: ONE user-keyed exchange for the lead window, then a
    rollup keyed on the bounded (type, day) domain with map-side
    partials. No joins, no driver actions.

    Returns ``day, event_type, twa_value, total_dur_sec,
    n_intervals`` ordered by (day, event_type).
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    dur_sec = (F.lead(us, 1).over(w) - us).cast("double") / 1e6
    cells = (
        df.withColumn("__dur", dur_sec)
        .filter(F.col("__dur").isNotNull())
        .groupBy(
            F.date_trunc("DAY", F.col(ts_col)).cast("date").alias("day"),
            F.col(type_col).alias("event_type"),
        )
        .agg(
            F.sum(F.col(value_col) * F.col("__dur")).alias("__vw"),
            F.sum("__dur").alias("__w"),
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
        )
    )
    return cells.select(
        "day",
        "event_type",
        F.round(F.col("__vw") / F.col("__w"), 6).alias("twa_value"),
        F.round(F.col("__w"), 6).alias("total_dur_sec"),
        "n_intervals",
    ).orderBy("day", "event_type")


def cusum_drift(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    slack_sigmas: float = 0.5,
    alarm_sigmas: float = 4.0,
) -> DataFrame:
    """One-sided CUSUM drift detection on hourly event volumes per
    type: ``S_t = max(0, S_{t−1} + (x_t − μ − κ))`` with slack
    ``κ = slack_sigmas·σ`` and alarm threshold ``h = alarm_sigmas·σ``
    — the classic sequential change detector that accumulates small
    sustained shifts a fixed-threshold alarm misses and resets on
    in-control hours.

    The recursion is NOT computed recursively: the reflected walk
    obeys the closed form ``S_t = P_t − min(0, min_{j≤t} P_j)`` where
    ``P`` is the plain prefix sum of the deviations — a standard
    identity (S is the walk reflected at 0, so the reflection absorbs
    exactly the running minimum), which turns CUSUM into TWO ordinary
    cumulative windows and makes it expressible in any SQL engine.
    CUSUM runs over OBSERVED hours only (an hour with zero events is
    absent, not an in-control reset — documented; compose with a
    dense calendar spine to change that).

    Determinism design: μ and σ derive from exact integer count
    moments (Σc, Σc² as BIGINT); both engines then apply identical
    double arithmetic in the identical window order, so the prefix
    sums agree bit-for-bit before the final rounding.

    Scale design: ONE (type, hour)-keyed rollup collapses the corpus;
    the moment aggregate and both cumulative windows run over those
    bounded cells, partitioned per type. No self-joins, no driver
    actions.

    Returns one summary row per type: ``event_type, n_hours, mu,
    sigma, max_cusum, n_alarm_hours, first_alarm_hour`` (doubles
    rounded 6), ordered by type.
    """
    hour = F.date_trunc("HOUR", F.col(ts_col))
    cells = df.groupBy(
        F.col(type_col).alias("etype"), hour.alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    moments = cells.groupBy("etype").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    n = F.col("n_hours").cast("double")
    mu = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mu * mu
    stats = moments.select(
        "etype",
        "n_hours",
        mu.alias("mu"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("sigma"),
    )
    dev = cells.join(stats, "etype").withColumn(
        "__y",
        F.col("c").cast("double")
        - F.col("mu")
        - F.lit(slack_sigmas) * F.col("sigma"),
    )
    cw = (
        Window.partitionBy("etype")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walked = (
        dev.withColumn("__p", F.sum("__y").over(cw))
        .withColumn(
            "__s",
            F.col("__p")
            - F.least(F.lit(0.0), F.min("__p").over(cw)),
        )
        .withColumn(
            "__alarm",
            (F.col("__s") > F.lit(alarm_sigmas) * F.col("sigma")).cast(
                "int"
            ),
        )
    )
    return (
        walked.groupBy("etype", "n_hours", "mu", "sigma")
        .agg(
            F.max("__s").alias("__max_s"),
            F.sum("__alarm").cast("long").alias("n_alarm_hours"),
            F.min(F.when(F.col("__alarm") == 1, F.col("h"))).alias(
                "first_alarm_hour"
            ),
        )
        .select(
            F.col("etype").alias("event_type"),
            "n_hours",
            F.round("mu", 6).alias("mu"),
            F.round("sigma", 6).alias("sigma"),
            F.round("__max_s", 6).alias("max_cusum"),
            "n_alarm_hours",
            "first_alarm_hour",
        )
        .orderBy("event_type")
    )


def generalization_ladder(
    frames: list[tuple[int, str, DataFrame, list[str]]],
    k: int = 5,
) -> DataFrame:
    """k-anonymity generalization ladder: for each pre-declared
    generalization LEVEL of the quasi-identifier (e.g. nation →
    region → segment-only → suppress-all), the equivalence-class
    profile — how many classes, the smallest class, and how many rows
    sit in classes below ``k``. This is the table a data-release
    process reads to pick the COARSEST level that satisfies k — the
    repair step after :func:`k_anonymity` flags a leak.

    ``frames``: ``(level, label, df, quasi_cols)`` per rung —
    pre-joined inputs so rungs may generalize through dimensions
    (nation → region) without this function knowing the schema. An
    empty ``quasi_cols`` rung is the full-suppression ladder top
    (one global class).

    Scale design: one (quasi tuple)-keyed exchange per rung with
    map-side partials (the rung count is a small constant), then
    constant-size per-rung reductions unioned into a |levels|-row
    report. No windows, no driver actions.

    Returns ``level, label, n_classes, min_class_size, n_at_risk_rows,
    k_ok`` ordered by level.
    """
    outs = []
    for level, label, df, quasi in frames:
        grouped = (
            df.groupBy(*quasi) if quasi else df.groupBy(F.lit(1))
        )
        classes = grouped.agg(F.count(F.lit(1)).alias("__sz"))
        outs.append(
            classes.agg(
                F.count(F.lit(1)).cast("long").alias("n_classes"),
                F.min("__sz").cast("long").alias("min_class_size"),
                F.sum(
                    F.when(F.col("__sz") < k, F.col("__sz")).otherwise(0)
                ).cast("long").alias("n_at_risk_rows"),
            ).select(
                F.lit(level).cast("int").alias("level"),
                F.lit(label).alias("label"),
                "n_classes",
                "min_class_size",
                "n_at_risk_rows",
                (F.col("min_class_size") >= k).alias("k_ok"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("level")


def generalization_ladder_one_pass(
    df: DataFrame,
    levels: list[tuple[str, list[str]]],
    k: int = 5,
) -> DataFrame:
    """:func:`generalization_ladder` over ONE pre-joined frame whose
    rungs are column subsets — the common case — computed in a single
    corpus pass via GROUPING SETS.

    The per-rung form scans its input once per level (the scan-audit
    sweep showed 4 FileScans for the 4-rung customer ladder); here
    Catalyst's Expand emits every rung's grouping key per input row
    (|levels|x fan-out BEFORE map-side partial aggregation absorbs
    it), so all rungs' equivalence classes materialize from one scan
    and one exchange. The per-rung reductions then collapse the
    bounded class table by ``grouping_id()`` — one more tiny
    aggregation instead of |levels| filtered consumers (which would
    re-execute the Expand per rung and defeat the point).

    ``levels``: ``(label, quasi_cols)`` per rung, coarsest last; the
    rung's level is its list index. An empty ``quasi_cols`` rung is
    the full-suppression top (one global class).

    Returns the same report as :func:`generalization_ladder` —
    including on an EMPTY input frame: GROUPING SETS emits no groups
    there, so the rung report is left-joined onto a literal levels
    frame (ADVICE r6) and every rung still emits one row with
    ``n_classes=0`` and null min/at-risk/k_ok, exactly like the
    per-rung form's global agg over empty input.
    ``level, label, n_classes, min_class_size, n_at_risk_rows, k_ok``
    ordered by level.
    """
    all_cols: list[str] = []
    for _, quasi in levels:
        for c in quasi:
            if c not in all_cols:
                all_cols.append(c)
    n_cols = len(all_cols)

    def gid_of(quasi: list[str]) -> int:
        # Spark's grouping_id: bit (n-1-i) set when all_cols[i] is
        # aggregated away (not in the rung's grouping set).
        g = 0
        for i, c in enumerate(all_cols):
            if c not in quasi:
                g |= 1 << (n_cols - 1 - i)
        return g

    gids = [gid_of(quasi) for _, quasi in levels]
    if len(set(gids)) != len(gids):
        raise ValueError(
            "rungs must be distinct column subsets; duplicate grouping "
            f"sets in {levels}"
        )
    classes = df.groupingSets(
        [quasi for _, quasi in levels], *[F.col(c) for c in all_cols]
    ).agg(
        F.count(F.lit(1)).alias("__sz"),
        F.grouping_id().alias("__gid"),
    )
    stats = classes.groupBy("__gid").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("__sz").cast("long").alias("min_class_size"),
        F.sum(
            F.when(F.col("__sz") < k, F.col("__sz")).otherwise(0)
        ).cast("long").alias("n_at_risk_rows"),
    )
    level_expr = F.lit(None).cast("int")
    label_expr = F.lit(None).cast("string")
    for idx, ((label, _), gid) in enumerate(zip(levels, gids)):
        level_expr = F.when(F.col("__gid") == gid, idx).otherwise(level_expr)
        label_expr = F.when(F.col("__gid") == gid, label).otherwise(label_expr)
    report = stats.select(
        level_expr.cast("int").alias("level"),
        label_expr.alias("label"),
        "n_classes",
        "min_class_size",
        "n_at_risk_rows",
        (F.col("min_class_size") >= k).alias("k_ok"),
    )
    # Literal rung frame: guarantees one output row per rung even when
    # the input is empty (GROUPING SETS emits no groups there). On any
    # non-empty input every rung has >=1 class, so the join is an
    # identity; both sides are bounded by |levels| rows.
    rungs = local_frame(
        df.sparkSession,
        [(idx, label) for idx, (label, _) in enumerate(levels)],
        "level int, label string",
    )
    return (
        rungs.join(report, ["level", "label"], "left")
        .select(
            "level",
            "label",
            F.coalesce("n_classes", F.lit(0)).cast("long").alias("n_classes"),
            "min_class_size",
            "n_at_risk_rows",
            "k_ok",
        )
        .orderBy("level")
    )


def power_analysis(
    df: DataFrame,
    type_col: str = "event_type",
    value_col: str = "value",
    mde_rel: float = 0.05,
) -> DataFrame:
    """A/B-test sample-size calculator from observed metric variance:
    per event type, the classic two-sided α=0.05 / power=0.8
    approximation ``n_per_arm = 16·σ²/δ²`` for a minimum detectable
    effect of ``mde_rel`` of the mean — the pre-experiment readout
    that says whether a test is even feasible at current traffic.

    Determinism design (r6, upgraded): double value sums are
    order-dependent in their low bits under both engines' parallel
    aggregation, so σ/μ at a ROUND boundary could drift run-to-run.
    Values quantize to integer micro-units (lossless for this
    fixture's 2-dp metric values) and the moments accumulate EXACTLY
    (decimal partials / HUGEINT in the oracle); μ, σ, and the ceil
    then evaluate over identical doubles with the identical
    expression tree in both engines. The micro-unit scale cancels out
    of ``n_per_arm = 16·σ²/δ²`` entirely, and μ/σ/δ rescale by one
    exact division at the end.

    Scale design: one type-keyed exchange with map-side partial
    moment sums; output bounded by |types|. No windows, no joins.

    Returns ``event_type, n_obs, mu, sigma, mde_abs,
    n_required_per_arm`` (doubles rounded 6) ordered by type.
    """
    scale = 1_000_000.0
    dec = "decimal(38,0)"
    vq = F.floor(F.col(value_col) * F.lit(scale) + F.lit(0.5)).cast(dec)
    moments = df.select(F.col(type_col).alias("event_type"), vq.alias("__v")) \
        .groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum("__v").alias("__s1"),
            F.sum(F.col("__v") * F.col("__v")).alias("__s2"),
        )
    n = F.col("n_obs").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    mu_u = s1 / n
    var_u = F.greatest(s2 / n - mu_u * mu_u, F.lit(0.0))
    delta_u = F.lit(mde_rel) * mu_u
    return moments.select(
        "event_type",
        "n_obs",
        F.round(mu_u / F.lit(scale), 6).alias("mu"),
        F.round(F.sqrt(var_u) / F.lit(scale), 6).alias("sigma"),
        F.round(delta_u / F.lit(scale), 6).alias("mde_abs"),
        F.ceil(F.lit(16.0) * var_u / (delta_u * delta_u))
        .cast("long")
        .alias("n_required_per_arm"),
    ).orderBy("event_type")


ROLLING_ACTIVE_DAYS = 7


def rolling_actives(
    df: DataFrame,
    window_days: int = ROLLING_ACTIVE_DAYS,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Rolling active users: per observed day, the distinct users of
    that day (DAU), of the trailing ``window_days`` window (WAU), and
    the DAU/WAU stickiness ratio — the growth dashboard's headline
    trio.

    Scale design: the corpus collapses to (day, user) cells first
    (one user-keyed exchange); each cell then fans out to the ≤
    ``window_days`` report days it contributes to — a BOUNDED
    constant-factor explode, not a range join whose per-day task
    would re-scan the window. Each fan-out row CARRIES an
    is-origin-day flag, so ONE (day, user) dedup keeping
    ``max(flag)`` yields both counts from the same frame: DAU =
    flagged rows, WAU = all rows — and a report day is an observed
    event day exactly when its DAU > 0, replacing the old
    observed-days semi-join. The previous shape computed observed /
    DAU / fan-out as three consumers of the unpersisted cell frame,
    which Catalyst executed by re-running the corpus scan AND the
    distinct's shuffle per consumer (scan-audit: 3 FileScans, 6
    exchanges); a persist() fixed the rescans but A/B-measured ~2.5x
    slower at sf0.1 (cache materialization serializes a sub-second
    query). This single-pipeline form is one scan, three bounded
    exchanges, no cache. Report days are the OBSERVED event days (a
    day with no events is absent; join a calendar spine upstream to
    change that).

    Returns ``day, dau, wau, stickiness`` (rounded 6) ordered by day.
    """
    cells = df.select(
        F.date_trunc("DAY", F.col(ts_col)).cast("date").alias("day"),
        F.col(user_col).alias("uid"),
    ).distinct()
    contrib = cells.select(
        F.posexplode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), window_days - 1),
            )
        ).alias("k", "day"),
        "uid",
    )
    per_cell = contrib.groupBy("day", "uid").agg(
        F.max(F.when(F.col("k") == 0, 1).otherwise(0)).alias("__a0")
    )
    return (
        per_cell.groupBy("day")
        .agg(
            F.sum("__a0").cast("long").alias("dau"),
            F.count(F.lit(1)).cast("long").alias("wau"),
        )
        .filter(F.col("dau") > 0)
        .select(
            "day",
            "dau",
            "wau",
            F.round(
                F.col("dau").cast("double") / F.col("wau").cast("double"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t_threshold: float = 0.2,
) -> DataFrame:
    """t-closeness audit — the third rung of the privacy triad after
    :func:`k_anonymity` and :func:`l_diversity`: a class can be large
    AND diverse yet still leak if its sensitive-value DISTRIBUTION
    deviates from the corpus (e.g. a class that is 90% 1-URGENT
    against a 20% base rate). Reports each quasi-identifier class's
    total-variation distance ``TV = ½·Σ_v |p_class(v) − p_global(v)|``
    (the categorical form of the t-closeness EMD) and flags classes
    with TV > ``t_threshold``.

    Determinism design: both distributions derive from exact integer
    counts; the per-value |p−q| terms are identical double ops in both
    engines and the Σ runs over the BOUNDED sensitive domain per
    class, so summation order is the same grouped fold everywhere.

    Scale design: one (quasi, sensitive)-keyed exchange collapses the
    corpus; the class × sensitive-domain grid (needed so values ABSENT
    from a class still contribute |0 − p_global|) is a broadcast cross
    join of two bounded frames. No windows, no driver actions.

    Returns ``*quasi_cols, n_rows, tv_distance, at_risk`` ordered by
    the quasi columns.
    """
    cells = df.groupBy(
        *quasi_cols, F.col(sensitive_col).alias("__sv")
    ).agg(F.count(F.lit(1)).alias("__c"))
    cls = cells.groupBy(*quasi_cols).agg(
        F.sum("__c").cast("long").alias("n_rows")
    )
    glob = (
        cells.groupBy("__sv")
        .agg(F.sum("__c").alias("__gc"))
        .withColumn(
            "__pg",
            F.col("__gc").cast("double")
            / F.sum("__gc").over(Window.partitionBy()),
        )
        .select("__sv", "__pg")
    )
    grid = cls.crossJoin(F.broadcast(glob))
    joined = grid.join(cells, [*quasi_cols, "__sv"], "left").withColumn(
        "__pc",
        F.coalesce(F.col("__c"), F.lit(0)).cast("double")
        / F.col("n_rows").cast("double"),
    )
    return (
        joined.groupBy(*quasi_cols, "n_rows")
        .agg(
            F.round(
                0.5 * F.sum(F.abs(F.col("__pc") - F.col("__pg"))), 6
            ).alias("tv_distance")
        )
        .withColumn("at_risk", F.col("tv_distance") > t_threshold)
        .orderBy(*quasi_cols)
    )


def audience_overlap(
    df: DataFrame,
    type_col: str = "event_type",
    user_col: str = "user_id",
) -> DataFrame:
    """Audience overlap matrix: for every unordered pair of event
    types, the distinct users doing BOTH, plus the Jaccard overlap of
    the two audiences — the segmentation readout behind "users who
    search also buy" questions and campaign-targeting unions.

    Scale design: the corpus collapses to distinct (type, user) cells
    first (one user-keyed exchange with map-side partials); the pair
    expansion is a self-equi-join ON USER of that deduplicated cell
    table — per-user fan-out is bounded by |types|² (a bounded
    domain), never corpus rows — and the final rollup is keyed on the
    bounded type-pair domain. Exact counts; swap in HLL sketch unions
    when |users| per type stops fitting a shuffle (events_hll_users
    is the sketch precedent).

    Returns ``type_a, type_b, n_both, n_a, n_b, jaccard`` (rounded 6)
    for pairs with ≥1 shared user, ordered by (type_a, type_b).
    """
    cells = df.select(
        F.col(type_col).alias("t"), F.col(user_col).alias("u")
    ).distinct()
    sizes = cells.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = cells.select(F.col("t").alias("ta"), "u")
    b = cells.select(F.col("t").alias("tb"), "u")
    both = (
        a.join(b, "u")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy(
            F.col("ta").alias("type_a"), F.col("tb").alias("type_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    na = sizes.select(F.col("t").alias("type_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("t").alias("type_b"), F.col("n").alias("n_b"))
    return (
        both.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


def seasonal_profile(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Two-factor additive seasonality decomposition of hourly volume:
    per event type, fit ``count ≈ grand_mean + dow_effect +
    hour_effect`` over the (day-of-week × hour-of-day) grid and report
    each cell's observed mean, additive fit, and residual — the
    calendar profile behind staffing/capacity curves and the residual
    map that exposes patterns the two factors can't explain (lunch
    spikes only on Fridays, launch anomalies).

    Determinism design: all three factor means derive from the same
    exact integer (type, dow, hour) cell sums; the fit and residual
    are fixed-shape double expressions over them, rounded 6.

    Scale design: ONE (type, hour-truncated-ts) rollup collapses the
    corpus; everything after runs on the bounded |types|·168 grid.
    The factor means are WINDOW sums over that grid (partition by
    type / (type, dow) / (type, hod)) in one linear plan — the
    previous shape derived them as three separate grid aggregations
    joined back, which Catalyst executed by re-running the corpus
    rollup PER CONSUMER (scan-audit showed 4 FileScans); a persist()
    on the grid fixed the rescans but A/B-measured ~2x slower at
    sf0.1 (cache materialization serializes the job for a sub-second
    query). The window form is both one-scan AND the fast shape:
    each window is one exchange over ≤|types|·168 rows at any
    corpus size. Factor means stay exact-integer sums divided once.
    A calendar hour with no events is absent (consistent with
    cusum_drift's observed-hours convention).

    Returns ``event_type, dow, hod, n_hours, mean_count, fitted,
    residual`` ordered by (type, dow, hod).
    """
    hourly = df.groupBy(
        F.col(type_col).alias("etype"),
        F.date_trunc("HOUR", F.col(ts_col)).alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    cells = hourly.groupBy(
        "etype",
        F.dayofweek("h").alias("dow"),
        F.hour("h").alias("hod"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("s"),
    )

    def wmean(*keys: str):
        w = Window.partitionBy(*keys)
        return (
            F.sum("s").over(w).cast("double")
            / F.sum("n_hours").over(w).cast("double")
        )

    gmean = wmean("etype")
    dmean = wmean("etype", "dow")
    hmean = wmean("etype", "hod")
    fitted = gmean + (dmean - gmean) + (hmean - gmean)
    mean_c = F.col("s").cast("double") / F.col("n_hours").cast("double")
    return (
        cells.select(
            F.col("etype").alias("event_type"),
            "dow",
            "hod",
            "n_hours",
            F.round(mean_c, 6).alias("mean_count"),
            F.round(fitted, 6).alias("fitted"),
            F.round(mean_c - fitted, 6).alias("residual"),
        )
        .orderBy("event_type", "dow", "hod")
    )


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


def acf_daily(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Autocorrelation function of the daily event-count series at lags
    1..``max_lag`` — the periodicity read-out (a weekly cycle shows as
    a lag-7 peak) that decides seasonal-model structure before anyone
    fits one, and the independence check behind every A/B-test
    variance estimate on daily metrics.

    Semantics: the series is the calendar-DENSIFIED daily count
    (missing days are explicit zeros — on a sparse stream, skipping
    empty days silently shifts every lag); ACF(L) is the Pearson
    correlation of (c_t, c_{t+L}) over the overlapping window, the
    standard cross-correlation form.

    Determinism design (the ols_regression move): counts are exact
    integers, the five moments per lag accumulate in decimal(38,0)
    (HUGEINT in the oracle) so the sums are order-independent, and the
    correlation is ONE fixed-shape double expression over identical
    integer moments — bit-reproducible, with zero-variance guards
    (all-constant series) yielding NULL identically in both engines.

    Scale design: the only corpus-sized work is the daily rollup (one
    day-keyed exchange with map-side partials); everything after runs
    on the calendar-bounded series (|days| rows — years, not events).
    The spine is ``sequence(min, max)`` exploded executor-side; the
    lag pairing is a series×lags cross join (≤ |days|·max_lag rows)
    joined back to the series on a shifted day key; the moment rollup
    groups on the ≤``max_lag``-row lag space. No windows (a global
    ORDER BY window would single-partition the series), no driver
    loops, no actions.

    Returns ``lag, n_pairs, acf`` (rounded 6), ordered by lag.
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bounds = daily.agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    ).filter(F.col("dmin").isNotNull())
    spine = bounds.select(F.explode(F.sequence("dmin", "dmax")).alias("day"))
    series = spine.join(daily, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    lags = (
        events.sparkSession.range(1, max_lag + 1)
        .select(F.col("id").cast("long").alias("lag"))
    )
    left = series.select(F.col("day").alias("d0"), F.col("c").alias("x"))
    right = series.select(F.col("day").alias("d1"), F.col("c").alias("y"))
    paired = (
        left.crossJoin(F.broadcast(lags))
        .withColumn("d1", F.date_add(F.col("d0"), F.col("lag").cast("int")))
        .join(right, "d1")
    )
    dec = "decimal(38,0)"
    xq = F.col("x").cast(dec)
    yq = F.col("y").cast(dec)
    m = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(xq).alias("__sx"),
        F.sum(yq).alias("__sy"),
        F.sum(xq * yq).alias("__sxy"),
        F.sum(xq * xq).alias("__sxx"),
        F.sum(yq * yq).alias("__syy"),
    )
    n = F.col("n_pairs").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    acf = F.when(
        (dx > 0) & (dy > 0),
        (n * sxy - sx * sy) / (F.sqrt(dx) * F.sqrt(dy)),
    )
    return m.select(
        "lag", "n_pairs", F.round(acf, 6).alias("acf")
    ).orderBy("lag")


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


def entropy_rate(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Empirical first-order entropy rate of the event-type process:
    per previous type, the Shannon entropy (nats) of the NEXT type —
    how predictable the next step is given where you are — plus the
    transition-weighted overall rate. Low rate = scripted/templated
    journeys (the sequence-level twin of behavior_entropy's bag-level
    signal); it also lower-bounds the achievable log-loss of any
    first-order sequence model on this stream.

    Determinism design (the behavior_entropy precedent): transition
    counts are exact integers from one lag-window rollup; per-prev
    entropy uses the fold ``H_i = ln(n_i) − (Σ_j c_ij·ln c_ij)/n_i``
    (ln over exact integers); the overall rate derives algebraically —
    ``rate = (Σ_i n_i·ln n_i − Σ_ij c_ij·ln c_ij) / N`` — from ONE
    single-row aggregate, not a sum over per-row doubles.

    Scale design: one user-keyed lag window (the transition_matrix
    exchange), a |types|²-bounded pair rollup, a |types|-bounded
    per-prev reduction, and a broadcast single-row totals join.

    Returns ``prev_type, n_transitions, n_next_types, h_next,
    rate_total`` (nats, rounded 6; rate identical on every row),
    ordered by prev_type.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    pairs = (
        df.withColumn("__prev", F.lag(type_col).over(w))
        .filter(F.col("__prev").isNotNull())
        .groupBy(
            F.col("__prev").alias("prev_type"),
            F.col(type_col).alias("next_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    c = F.col("c").cast("double")
    per_prev = pairs.groupBy("prev_type").agg(
        F.sum("c").cast("long").alias("n_transitions"),
        F.count(F.lit(1)).cast("long").alias("n_next_types"),
        F.sum(c * F.log(c)).alias("__clnc"),
    )
    n = F.col("n_transitions").cast("double")
    totals = per_prev.agg(
        F.sum("n_transitions").cast("long").alias("__N"),
        F.sum(n * F.log(n)).alias("__snlnn"),
        F.sum("__clnc").alias("__sclnc"),
    )
    rate = F.when(
        F.col("__N") > 0,
        (F.col("__snlnn") - F.col("__sclnc")) / F.col("__N").cast("double"),
    )
    return (
        per_prev.crossJoin(F.broadcast(totals))
        .select(
            "prev_type",
            "n_transitions",
            "n_next_types",
            F.round(F.log(n) - F.col("__clnc") / n, 6).alias("h_next"),
            F.round(rate, 6).alias("rate_total"),
        )
        .orderBy("prev_type")
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


def mad_anomalies(
    events: DataFrame,
    z_threshold: float = 3.0,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Robust volume-anomaly detection: flag days whose event count
    sits more than ``z_threshold`` robust standard deviations from the
    per-type median, with spread estimated by the median absolute
    deviation (MAD · 1.4826 ≈ σ under normality). Median/MAD ignore
    the outliers they hunt — the property a mean/stddev z-score lacks
    (one bot spike inflates σ and masks itself; the events_cusum
    change-point walk is the complementary sequential view).

    Scale design: the daily rollup collapses the raw stream to a
    |types|·|days| frame in ONE partial-aggregated exchange; both
    percentile passes and the flag join run on that tiny frame.
    Exact interpolated percentiles (not approx) keep the oracle
    strict; at 100 TB the rollup output is still calendar-bounded.
    Measured-kept (r9 dup-subtree audit): the rollup subtree appears
    4× in the plan (med / mad / dev / final), and pinning it measured
    WORSE at sf0.1 — 1.56s vs 1.24s best-of-3, the audit_referential
    pattern where independent scans parallelize while the pin
    serializes materialization. On a cluster where the raw scan
    dominates, route ``daily`` through ``cache.pin`` (the losing local
    variant) to collapse the four scans to one — the semantics are
    identical (verified).

    Returns one row per (event_type, day): ``event_type, day, n,
    med, mad, robust_z, is_anomaly`` (z rounded 6; z = 0 when MAD = 0).
    """
    daily = (
        events.groupBy(
            F.col(type_col).alias("event_type"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    med = daily.groupBy("event_type").agg(
        F.percentile("n", F.lit(0.5)).alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "__ad", F.abs(F.col("n").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("__ad", F.lit(0.5)).alias("mad")
    )
    z = F.when(
        F.col("mad") > 0,
        (F.col("n").cast("double") - F.col("med"))
        / (F.lit(1.4826) * F.col("mad")),
    ).otherwise(F.lit(0.0))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day",
            "n",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            F.round(z, 6).alias("robust_z"),
            (F.abs(z) > z_threshold).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
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
