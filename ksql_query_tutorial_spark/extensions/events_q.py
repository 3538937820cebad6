"""Event-analytics extension queries (sessions, funnels, attribution, windows, anomaly/CUSUM, retention, streaming-analog state).

Split from the former extensions.py monolith (pure move; VERDICT r6 #3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.functions import hashes
from ksql_query_tutorial_spark.operators import (
    rollup,
)
from ksql_query_tutorial_spark.tables import load

from ._registry import query
from ._shared import *  # noqa: F401,F403 — shared constants/SQL fragments


@query(oracle="""
    WITH fv AS (SELECT user_id,
                       min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
                FROM events GROUP BY 1),
    fc AS (SELECT e.user_id, min(e.ts) AS first_click
           FROM events e JOIN fv USING (user_id)
           WHERE e.event_type = 'click'
             AND fv.first_view IS NOT NULL AND e.ts > fv.first_view
           GROUP BY 1),
    fp AS (SELECT e.user_id, min(e.ts) AS first_purchase
           FROM events e JOIN fc USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > fc.first_click
           GROUP BY 1)
    SELECT fv.user_id, fv.first_view, fc.first_click, fp.first_purchase,
           CAST(CASE WHEN fv.first_view IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN fc.first_click IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN fp.first_purchase IS NOT NULL THEN 1 ELSE 0 END
              AS INT) AS funnel_depth
    FROM fv LEFT JOIN fc USING (user_id) LEFT JOIN fp USING (user_id)
    ORDER BY fv.user_id
""")
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user: first-completion
    timestamps with strictly-after chaining, single user-keyed
    exchange (stacked windows + rollup on one partitioning)."""
    from ksql_query_tutorial_spark.operators.funnel import funnel_steps

    e = load(spark, sf_dir, "events")
    return funnel_steps(e, steps=("view", "click", "purchase"))


@query(oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           -- sum(BIGINT) promotes to HUGEINT -> pandas float64 -> strict
           -- CSV hash mismatch vs Spark's int64 (VERDICT r5 #2); re-pin.
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS BIGINT) AS sum_k,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
             AS avg_k
    FROM events GROUP BY event_type ORDER BY event_type
""")
def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed stats over the schemaless-JSON ``props`` column (the
    JsonConverter ``schemas.enable=false`` pattern from the reference,
    applied to an embedded column): ``from_json`` parse JVM-side, then
    a per-event-type aggregate."""
    from ksql_query_tutorial_spark.operators import analytics

    e = load(spark, sf_dir, "events")
    return analytics.props_stats(e)


@query(oracle="""
    WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
                FROM events),
    f AS (SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY 1)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, uw.wk) // 7 AS INT)
             AS week_offset,
           count(*) AS n_users
    FROM uw JOIN f USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
""")
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the event stream (cohort =
    ISO week of first activity; cells = distinct users active N weeks
    later)."""
    from ksql_query_tutorial_spark.operators import analytics

    e = load(spark, sf_dir, "events")
    return analytics.weekly_retention(e)


@query(oracle="""
    WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                      count(*) AS n_events
               FROM events GROUP BY 1, 2),
    -- exact integer count moments (HUGEINT sums, the int128 mirror of
    -- Spark's decimal partials) instead of stddev_samp: both engines
    -- then evaluate the identical closed form over identical doubles,
    -- so ROUND(z, 6) cannot drift with aggregation merge order (r6)
    mo AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nh,
                  CAST(sum(n_events) AS DOUBLE) AS s1,
                  CAST(sum(n_events * n_events) AS DOUBLE) AS s2
           FROM h GROUP BY 1),
    s AS (SELECT event_type,
                 s1 / CAST(nh AS DOUBLE) AS m,
                 CASE WHEN nh > 1 THEN
                      sqrt(greatest((s2 - s1 * (s1 / CAST(nh AS DOUBLE)))
                                    / (CAST(nh AS DOUBLE) - 1.0), 0.0))
                 END AS sd
          FROM mo)
    SELECT h.event_type, h.hour, h.n_events,
           round((h.n_events - s.m) / s.sd, 6) AS z,
           coalesce(abs((h.n_events - s.m) / s.sd) > 2, false) AS is_anomaly
    FROM h JOIN s USING (event_type)
    ORDER BY h.event_type, h.hour
""")
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume anomalies per event type: counts z-scored against
    the type's own distribution, |z| > 2 flagged."""
    from ksql_query_tutorial_spark.operators import analytics

    e = load(spark, sf_dir, "events")
    return analytics.hourly_anomaly(e)


@query(oracle="""
    SELECT event_type, count(*) AS n_rows,
           round(sum(value), 6) AS sum_val,
           round(sum(value) / count(*), 6) AS avg_val
    FROM events GROUP BY 1 ORDER BY 1
""")
def events_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level salted aggregation over the 5-key event_type grouping
    (the explicit skew-cap shape; result identical to the plain
    aggregate by construction)."""
    from ksql_query_tutorial_spark.operators import skew

    e = load(spark, sf_dir, "events")
    return skew.salted_agg(e.select("event_type", "value"), ["event_type"], "value")


@query(oracle="""
    SELECT user_id, ts, event_id, value,
           round(avg(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                 6) AS moving_avg,
           round(value - lag(value, 1) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id),
                 6) AS delta
    FROM events ORDER BY user_id, ts, event_id
""")
def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 3-event moving average + step delta: stacked
    ordered windows on one user-keyed exchange."""
    from ksql_query_tutorial_spark.operators import analytics

    e = load(spark, sf_dir, "events")
    return analytics.moving_stats(e)


# ----------------------------------------------- session path mining

PATH_GAP_MIN = 480   # fixture users emit events hours apart; 8 h gaps


PATH_MAX_STEPS = 8   # yield a mix of 1-step and multi-step journeys


@query(oracle=f"""
    WITH o AS (SELECT user_id, ts, event_id, event_type,
                      CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                               (PARTITION BY user_id ORDER BY ts, event_id)
                               > CAST({PATH_GAP_MIN} AS BIGINT) * 60000000
                           THEN 1 ELSE 0 END AS nw
               FROM events),
    s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sess
          FROM o),
    r AS (SELECT user_id, sess, event_type,
                 row_number() OVER (PARTITION BY user_id, sess
                                    ORDER BY ts, event_id) AS rn,
                 count(*) OVER (PARTITION BY user_id, sess) AS n_events
          FROM s),
    p AS (SELECT user_id, sess, max(n_events) AS n_events,
                 string_agg(event_type, '>' ORDER BY rn) AS path
          FROM r WHERE rn <= {PATH_MAX_STEPS}
          GROUP BY user_id, sess)
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(avg(n_events), 6) AS avg_events
    FROM p GROUP BY path ORDER BY path
""")
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path histogram: gap-sessionize each user's events and
    count the distinct ordered event-type journeys (the funnel-
    DISCOVERY analytic next to events_funnel's fixed-order check).
    One full-data exchange; see analytics.session_paths."""
    from ksql_query_tutorial_spark.operators.analytics import session_paths

    e = load(spark, sf_dir, "events")
    return session_paths(e, gap_minutes=PATH_GAP_MIN, max_steps=PATH_MAX_STEPS)


@query(oracle="""
    SELECT event_type AS group,
           CAST(floor(value / 5.0) AS BIGINT) AS bin,
           ROUND(CAST(floor(value / 5.0) AS BIGINT) * 5.0, 6) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n,
           min(value) AS min_v, max(value) AS max_v
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
""")
def events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — oracle-exact
    numeric profiling (unlike quantile sketches). See
    analytics.value_histogram."""
    from ksql_query_tutorial_spark.operators.analytics import value_histogram

    e = load(spark, sf_dir, "events")
    return value_histogram(e, bin_width=5.0)


# ----------------------------------------------- event transition matrix

@query(oracle="""
    WITH s AS (SELECT user_id, event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev
               FROM events),
    pairs AS (SELECT prev AS prev_type, event_type AS next_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT prev_type, sum(n) AS t FROM pairs GROUP BY 1)
    SELECT prev_type, next_type, n,
           ROUND(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS p
    FROM pairs JOIN tot USING (prev_type)
    ORDER BY prev_type, next_type
""")
def events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix per user sequence —
    the sequence-model fit artifact. See analytics.transition_matrix."""
    from ksql_query_tutorial_spark.operators.analytics import transition_matrix

    e = load(spark, sf_dir, "events")
    return transition_matrix(e)


# ----------------------------------------------- last-touch attribution

ATTR_TTL_MIN = 1440


@query(oracle=f"""
    WITH o AS (SELECT user_id, ts, event_id, event_type,
                      epoch_us(ts) AS us
               FROM events),
    l AS (SELECT *, max(CASE WHEN event_type IN ('click', 'view')
                        THEN struct_pack(us := us, id := event_id,
                                         tt := event_type) END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lt
          FROM o),
    p AS (SELECT *, lt IS NOT NULL
                    AND us - (lt).us <= CAST({ATTR_TTL_MIN} AS BIGINT)
                                        * 60000000 AS ok
          FROM l WHERE event_type = 'purchase')
    SELECT user_id, event_id AS conversion_id, ts AS conversion_ts,
           CASE WHEN ok THEN (lt).id END AS touch_id,
           CASE WHEN ok THEN make_timestamp((lt).us) END AS touch_ts,
           CASE WHEN ok THEN (lt).tt END AS touch_type,
           -- fixed-point half-up micro-minutes, mirroring the Spark
           -- side exactly (see analytics.last_touch_attribution): the
           -- binary-float ROUND(x, 6) boundary row of r5 is gone.
           CASE WHEN ok
                THEN CAST((us - (lt).us + 30) // 60 AS DOUBLE) / 1000000.0
           END AS mins_since_touch
    FROM p ORDER BY conversion_id
""")
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the most
    recent preceding click/view by the same user within 24 h. See
    analytics.last_touch_attribution."""
    from ksql_query_tutorial_spark.operators.analytics import (
        last_touch_attribution,
    )

    e = load(spark, sf_dir, "events")
    return last_touch_attribution(e, ttl_minutes=ATTR_TTL_MIN)


# ----------------------------------------------- SCD2 dimension build

@query(oracle="""
    WITH o AS (SELECT user_id, ts, event_id, event_type,
                      lag(event_type) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)
                        AS prev
               FROM events),
    ch AS (SELECT user_id, ts, event_id, event_type
           FROM o WHERE prev IS NULL OR prev IS DISTINCT FROM event_type),
    v AS (SELECT user_id AS key, event_type AS state,
                 CAST(row_number() OVER
                      (PARTITION BY user_id ORDER BY ts, event_id) AS INT)
                   AS version,
                 ts AS valid_from,
                 lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to,
                 CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                   AS n_changes_total
          FROM ch)
    SELECT * FROM v ORDER BY key, version
""")
def events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history: each user's event_type treated as a
    CDC-tracked state — consecutive repeats collapse into versions
    with validity intervals. See analytics.scd2_intervals."""
    from ksql_query_tutorial_spark.operators.analytics import scd2_intervals

    e = load(spark, sf_dir, "events")
    return scd2_intervals(e)


# ----------------------------------------------- DAU / WAU engagement

AU_WINDOW_DAYS = 7


@query(oracle=f"""
    WITH pairs AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE)
                                     AS day,
                                   user_id
                   FROM events),
    dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
            FROM pairs GROUP BY 1),
    contrib AS (SELECT CAST(unnest(range(CAST(day AS TIMESTAMP),
                                         CAST(day + {AU_WINDOW_DAYS}
                                              AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE)
                         AS target_day,
                       user_id
                FROM pairs),
    wau AS (SELECT target_day AS day,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS wau
            FROM contrib GROUP BY 1)
    SELECT day, dau, wau,
           ROUND(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6)
             AS stickiness
    FROM dau JOIN wau USING (day) ORDER BY day
""")
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + rolling-7-day distinct active users with stickiness —
    the canonical engagement rollup. See analytics.active_users."""
    from ksql_query_tutorial_spark.operators.analytics import active_users

    e = load(spark, sf_dir, "events")
    return active_users(e, window_days=AU_WINDOW_DAYS)


# ------------------------------------------------ HLL distinct sketch

HLL_P = 6


_HLL_ALPHA_MM = 0.709 * (1 << HLL_P) * (1 << HLL_P)  # alpha_64 * m^2


_HLL_POW2CAP = float(1 << 50)


@query(oracle=f"""
    WITH h AS (SELECT event_type, {hashes.hll_hash_sql('u')} AS hh
               FROM (SELECT event_type,
                            {hashes.hll_fold_sql('user_id')} AS u
                     FROM events)),
    regs AS (SELECT event_type, hh % {1 << HLL_P} AS bucket,
                    max({62 - HLL_P + 1}
                        - length(ltrim(bin(hh // {1 << HLL_P}), '0'))) AS r
             FROM h GROUP BY 1, 2),
    sk AS (SELECT event_type,
                  sum(CAST(power(2, 50 - least(r, 50)) AS BIGINT))
                    AS s_present,
                  count(*) AS n_present
           FROM regs GROUP BY 1),
    e2 AS (SELECT event_type, {1 << HLL_P} - n_present AS zeros,
                  (CAST({_HLL_ALPHA_MM!r} AS DOUBLE)
                   * CAST({_HLL_POW2CAP!r} AS DOUBLE))
                  / CAST(s_present + ({1 << HLL_P} - n_present)
                         * {1 << 50} AS DOUBLE) AS raw
           FROM sk),
    fin AS (SELECT event_type,
                   ROUND(CASE WHEN raw <= {2.5 * (1 << HLL_P)!r}
                                   AND zeros > 0
                         THEN {float(1 << HLL_P)!r}
                              * ln({float(1 << HLL_P)!r}
                                   / CAST(zeros AS DOUBLE))
                         ELSE raw END, 6) AS est_distinct
            FROM e2),
    ex AS (SELECT event_type,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
           FROM events GROUP BY 1)
    SELECT event_type, n_exact, est_distinct,
           ROUND((est_distinct - n_exact) / CAST(n_exact AS DOUBLE), 6)
             AS rel_err
    FROM fin JOIN ex USING (event_type) ORDER BY event_type
""")
def events_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate via a hand-rolled
    HyperLogLog sketch — the register-max mergeable-cardinality twin
    of the KMV estimator (`corpus_kmv_vocab`): max is idempotent, so
    the sketch needs NO pre-distinct pass and unions across shards for
    free. Portable integer/string rank arithmetic (length(bin(w)),
    BIGINT-scaled harmonic sum) makes the estimate bit-reproducible in
    DuckDB — the usual reason HLL is 'un-oracle-able' is engine-native
    opaque sketches, not the algorithm."""
    from ksql_query_tutorial_spark.operators.analytics import hll_distinct

    e = load(spark, sf_dir, "events")
    return hll_distinct(e, "event_type", "user_id", p=HLL_P).select(
        F.col("group").alias("event_type"), "n_exact", "est_distinct", "rel_err"
    )


# ------------------------------------------- session quality metrics

SESSION_GAP_MIN = 30


@query(oracle=f"""
    WITH o AS (SELECT user_id, ts, event_id,
                      CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                               (PARTITION BY user_id ORDER BY ts, event_id)
                               > CAST({SESSION_GAP_MIN} AS BIGINT) * 60000000
                           THEN 1 ELSE 0 END AS nw
               FROM events),
    s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sess
          FROM o),
    ps AS (SELECT user_id, sess, min(ts) AS start_ts,
                  min(epoch_us(ts)) AS start_us,
                  max(epoch_us(ts)) AS end_us,
                  count(*) AS n_events
           FROM s GROUP BY 1, 2)
    SELECT CAST(date_trunc('day', start_ts) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(avg(end_us - start_us) / 1000000.0, 6) AS avg_session_sec,
           ROUND(avg(n_events), 6) AS avg_events,
           ROUND(avg(CASE WHEN n_events = 1 THEN 1 ELSE 0 END), 6)
             AS bounce_rate
    FROM ps GROUP BY 1 ORDER BY 1
""")
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day session quality rollup (count, users, duration, depth,
    bounce rate) over the gap-sessionized event stream — see
    analytics.session_stats."""
    from ksql_query_tutorial_spark.operators.analytics import session_stats

    e = load(spark, sf_dir, "events")
    return session_stats(e, gap_minutes=SESSION_GAP_MIN)


DECAY_HALFLIFE_DAYS = 7.0


@query(oracle=f"""
    WITH tm AS (SELECT max(ts) AS t_max FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(sum(value * pow(2.0,
                 -((epoch_us((SELECT t_max FROM tm)) - epoch_us(ts)) / 1e6)
                  / (86400.0 * {DECAY_HALFLIFE_DAYS}))), 6) AS decayed_value,
           max(ts) AS last_ts
    FROM events GROUP BY user_id ORDER BY user_id
""")
def events_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed engagement score (half-life
    7 days back from the corpus-wide latest event). See
    analytics.decayed_engagement."""
    from ksql_query_tutorial_spark.operators.analytics import (
        decayed_engagement,
    )

    e = load(spark, sf_dir, "events")
    return decayed_engagement(
        e, halflife_days=DECAY_HALFLIFE_DAYS
    ).orderBy("user_id")


SEASONAL_PERIOD_HOURS = 168


@query(oracle=f"""
    WITH h AS (SELECT event_type AS etype, date_trunc('hour', ts) AS hh,
                      CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2)
    SELECT a.etype AS event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           ROUND(avg(abs(a.c - b.c)), 6) AS mae,
           ROUND(avg(a.c - b.c), 6) AS bias
    FROM h a JOIN h b
      ON a.etype = b.etype
     AND a.hh = b.hh + INTERVAL {SEASONAL_PERIOD_HOURS} HOURS
    GROUP BY 1 ORDER BY 1
""")
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (week-ago) hourly-volume forecast backtest per
    event type. See analytics.seasonal_baseline_error."""
    from ksql_query_tutorial_spark.operators.analytics import (
        seasonal_baseline_error,
    )

    e = load(spark, sf_dir, "events")
    return seasonal_baseline_error(e, period_hours=SEASONAL_PERIOD_HOURS)


@query(oracle="""
    WITH t AS (SELECT user_id, event_type,
                      epoch_us(ts) AS us
               FROM events),
    conv AS (SELECT *,
                    COALESCE(sum(CASE WHEN event_type = 'click'
                                      THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY us
                            RANGE BETWEEN 86400000000 PRECEDING
                                      AND 1 PRECEDING), 0) AS n0,
                    COALESCE(sum(CASE WHEN event_type = 'view'
                                      THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY us
                            RANGE BETWEEN 86400000000 PRECEDING
                                      AND 1 PRECEDING), 0) AS n1
             FROM t),
    c AS (SELECT n0, n1, n0 + n1 AS tot FROM conv
          WHERE event_type = 'purchase'),
    wide AS (SELECT
        CAST(count(CASE WHEN n0 > 0 THEN 1 END) AS BIGINT) AS r0,
        ROUND(sum(CASE WHEN tot > 0
                       THEN CAST(n0 AS DOUBLE) / tot ELSE 0 END), 6)
          AS c0,
        CAST(count(CASE WHEN n1 > 0 THEN 1 END) AS BIGINT) AS r1,
        ROUND(sum(CASE WHEN tot > 0
                       THEN CAST(n1 AS DOUBLE) / tot ELSE 0 END), 6)
          AS c1,
        CAST(count(CASE WHEN tot = 0 THEN 1 END) AS BIGINT) AS rn
      FROM c)
    SELECT 'click' AS touch_type, r0 AS reached_conversions,
           c0 AS credit FROM wide
    UNION ALL
    SELECT 'view', r1, c1 FROM wide
    UNION ALL
    SELECT '(none)', rn, 0.0 FROM wide
    ORDER BY touch_type
""")
def events_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution totals (credit split equally
    over in-TTL touches; range-frame windows, no join). See
    analytics.linear_attribution."""
    from ksql_query_tutorial_spark.operators.analytics import (
        linear_attribution,
    )

    e = load(spark, sf_dir, "events")
    return linear_attribution(e)


IVM_CUTOFF = "2024-01-20 00:00:00"


@query(oracle="""
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY event_type, day
""")
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: base-before-cutoff partials
    merged with the raw delta batch; the oracle is the PLAIN full
    aggregate, so the hash match proves the incremental path is
    result-identical. See rollup.incremental_rollup."""
    e = load(spark, sf_dir, "events")
    return rollup.incremental_rollup(e, cutoff=IVM_CUTOFF)


@query(oracle=f"""
    WITH per AS (SELECT user_id,
                        {hashes.ab_arm_sql('user_id')} AS arm,
                        max(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS conv
                 FROM events GROUP BY 1),
    w AS (SELECT
        CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
          AS conv_a,
        CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
          AS conv_b
      FROM per),
    d AS (SELECT *,
                 CASE WHEN n_a > 0
                      THEN CAST(conv_a AS DOUBLE) / n_a END AS rate_a,
                 CASE WHEN n_b > 0
                      THEN CAST(conv_b AS DOUBLE) / n_b END AS rate_b,
                 CASE WHEN n_a > 0 AND n_b > 0 THEN
                   (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                   * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                   * (1.0 / n_a + 1.0 / n_b) END AS se2
          FROM w)
    SELECT n_a, n_b, conv_a, conv_b,
           ROUND(rate_a, 6) AS rate_a,
           ROUND(rate_b, 6) AS rate_b,
           ROUND(rate_b - rate_a, 6) AS lift,
           ROUND(CASE WHEN se2 > 0
                      THEN (rate_b - rate_a) / sqrt(se2) END, 6) AS z
    FROM d
""")
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucketed A/B conversion readout with the
    two-proportion z statistic. See analytics.ab_test_conversion."""
    from ksql_query_tutorial_spark.operators.analytics import (
        ab_test_conversion,
    )

    e = load(spark, sf_dir, "events")
    return ab_test_conversion(e)


GAP_FILL_EVENT_TYPE = "purchase"


@query(oracle=f"""
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               ROUND(sum(value), 6) AS rev,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE event_type = '{GAP_FILL_EVENT_TYPE}'
        GROUP BY 1, 2),
    spine AS (
        SELECT user_id,
               CAST(unnest(range(CAST(min(day) AS TIMESTAMP),
                                 CAST(max(day) + 1 AS TIMESTAMP),
                                 INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY user_id),
    j AS (
        SELECT s.user_id, s.day, d.rev, d.n_events,
               sum(CASE WHEN d.rev IS NOT NULL THEN 1 ELSE 0 END)
                 OVER (PARTITION BY s.user_id ORDER BY s.day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS grp
        FROM spine s LEFT JOIN daily d
          ON s.user_id = d.user_id AND s.day = d.day)
    SELECT user_id, day,
           CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
           CAST(rev IS NOT NULL AS INTEGER) AS observed,
           max(rev) OVER (PARTITION BY user_id, grp) AS filled_rev
    FROM j ORDER BY user_id, day
""")
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-densified per-user daily purchase revenue with
    forward fill. See analytics.daily_gap_fill."""
    from ksql_query_tutorial_spark.operators.analytics import daily_gap_fill

    e = load(spark, sf_dir, "events")
    return daily_gap_fill(e, event_type=GAP_FILL_EVENT_TYPE)


CONV_FROM = "view"


CONV_TO = "purchase"


@query(oracle=f"""
    WITH fv AS (
        SELECT user_id, min(ts) AS first_view
        FROM events WHERE event_type = '{CONV_FROM}' GROUP BY 1),
    conv AS (
        SELECT fv.user_id, min(e.ts) AS first_purchase
        FROM fv JOIN events e
          ON e.user_id = fv.user_id
         AND e.event_type = '{CONV_TO}'
         AND e.ts > fv.first_view
        GROUP BY 1)
    SELECT CAST(date_trunc('day', first_view) AS DATE) AS cohort_day,
           CAST(count(*) AS BIGINT) AS n_exposed,
           CAST(count(first_purchase) AS BIGINT) AS n_converted,
           ROUND(CAST(sum(epoch_us(first_purchase)
                          - epoch_us(first_view)) AS DOUBLE)
                 / nullif(count(first_purchase), 0) / 1e6, 4)
             AS avg_lag_sec,
           ROUND(CAST(max(epoch_us(first_purchase)
                          - epoch_us(first_view)) AS DOUBLE) / 1e6, 4)
             AS max_lag_sec
    FROM fv LEFT JOIN conv USING (user_id)
    GROUP BY 1 ORDER BY 1
""")
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort view→purchase conversion-lag report.
    See funnel.conversion_lag."""
    from ksql_query_tutorial_spark.operators.funnel import conversion_lag

    return conversion_lag(
        load(spark, sf_dir, "events"),
        from_step=CONV_FROM,
        to_step=CONV_TO,
    )


HOP_WINDOW_H = 24


HOP_EVERY_H = 6


@query(oracle=f"""
    WITH contrib AS (
        SELECT user_id,
               unnest(range(
                   CAST(floor(epoch_us(ts) / {HOP_EVERY_H * 3_600_000_000})
                        AS BIGINT) - {HOP_WINDOW_H // HOP_EVERY_H - 1},
                   CAST(floor(epoch_us(ts) / {HOP_EVERY_H * 3_600_000_000})
                        AS BIGINT) + 1)) AS hop
        FROM events)
    SELECT make_timestamp(hop * {HOP_EVERY_H * 3_600_000_000})
             AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM contrib GROUP BY 1 ORDER BY 1
""")
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window event/user counts (24h window, 6h hop).
    See analytics.hopping_window_counts."""
    from ksql_query_tutorial_spark.operators.analytics import (
        hopping_window_counts,
    )

    return hopping_window_counts(
        load(spark, sf_dir, "events"),
        window_hours=HOP_WINDOW_H,
        hop_hours=HOP_EVERY_H,
    )


@query(oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events)
    SELECT user_id, event_id, event_type, value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
""")
def events_tombstone_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-aware changelog state over the event stream: per user,
    the latest event wins; a user whose latest event is an 'error'
    (the tombstone analog of ksqlDB's null-valued table record) drops
    out of the state entirely. See upsert.apply_changelog."""
    from ksql_query_tutorial_spark.operators.upsert import apply_changelog

    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    out = apply_changelog(
        e,
        key_cols=["user_id"],
        order_col="event_id",
        tombstone=F.col("event_type") == "error",
    )
    return out.select("user_id", "event_id", "event_type", "value").orderBy(
        "user_id"
    )


@query(oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY 1 ORDER BY 1
""")
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p50/p95/p99 of the event value per event
    type — the latency-SLO readout shape. One type-keyed exact
    percentile aggregate (Spark percentile == DuckDB quantile_cont,
    the q26/rfm parity); output bounded at |event types|."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.expr("percentile(value, 0.5D)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95D)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99D)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


SLO_TARGET = 0.1


@query(oracle=f"""
    WITH cells AS (
        SELECT date_trunc('hour', ts) AS hour,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors
        FROM events GROUP BY 1)
    SELECT hour, n_events, n_errors,
           ROUND(CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
             AS err_rate,
           ROUND(CAST(sum(n_errors) OVER (ORDER BY hour
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / ({SLO_TARGET} * CAST(sum(n_events) OVER (ORDER BY hour
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6)
             AS burn_ratio
    FROM cells ORDER BY hour
""")
def events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-budget burn-down against a 10% target.
    See analytics.slo_burn_down."""
    from ksql_query_tutorial_spark.operators.analytics import slo_burn_down

    return slo_burn_down(load(spark, sf_dir, "events"), target_rate=SLO_TARGET)


BOT_RATE_THRESHOLD = 20


BOT_MIN_HOURS = 2


@query(oracle=f"""
    WITH cells AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    u AS (SELECT user_id,
                 CAST(sum(n) AS BIGINT) AS n_events,
                 CAST(count(*) AS BIGINT) AS active_hours,
                 CAST(max(n) AS BIGINT) AS peak_hourly_rate
          FROM cells GROUP BY 1)
    SELECT user_id, n_events, active_hours, peak_hourly_rate,
           ROUND(CAST(n_events AS DOUBLE) / CAST(active_hours AS DOUBLE), 4)
             AS avg_hourly_rate,
           (peak_hourly_rate >= {BOT_RATE_THRESHOLD}
            AND active_hours >= {BOT_MIN_HOURS}) AS is_bot
    FROM u ORDER BY user_id
""")
def events_bot_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sustained-superhuman-rate bot screen. See analytics.bot_flags."""
    from ksql_query_tutorial_spark.operators.analytics import bot_flags

    return bot_flags(
        load(spark, sf_dir, "events"),
        rate_threshold=BOT_RATE_THRESHOLD,
        min_active_hours=BOT_MIN_HOURS,
    )


@query(oracle="""
    WITH cells AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    u AS (SELECT user_id,
                 CAST(sum(c) AS BIGINT) AS n_events,
                 CAST(count(*) AS BIGINT) AS n_types,
                 sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
          FROM cells GROUP BY 1)
    SELECT user_id, n_events, n_types,
           ROUND(ln(CAST(n_events AS DOUBLE))
                 - clnc / CAST(n_events AS DOUBLE), 6) AS entropy
    FROM u ORDER BY user_id
""")
def events_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type Shannon entropy.
    See analytics.behavior_entropy."""
    from ksql_query_tutorial_spark.operators.analytics import behavior_entropy

    return behavior_entropy(load(spark, sf_dir, "events"))


@query(oracle=f"""
    WITH o AS (SELECT user_id, ts, event_id,
                      CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                               (PARTITION BY user_id ORDER BY ts, event_id)
                               > CAST({SESSION_GAP_MIN} AS BIGINT) * 60000000
                           THEN 1 ELSE 0 END AS nw
               FROM events),
    s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sess
          FROM o),
    ps AS (SELECT user_id, sess,
                  min(epoch_us(ts)) AS start_us,
                  max(epoch_us(ts)) AS end_us
           FROM s GROUP BY 1, 2),
    b AS (SELECT start_us AS t, 1 AS d FROM ps
          UNION ALL SELECT end_us + 1, -1 FROM ps),
    inst AS (SELECT t, CAST(sum(d) AS BIGINT) AS net,
                    CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS starts
             FROM b GROUP BY 1),
    c AS (SELECT t, starts,
                 sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum
          FROM inst)
    SELECT CAST(date_trunc('day', make_timestamp(t)) AS DATE) AS day,
           CAST(sum(starts) AS BIGINT) AS n_starts,
           CAST(max(cum) AS BIGINT) AS peak_concurrency
    FROM c WHERE starts > 0 GROUP BY 1 ORDER BY 1
""")
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via a sweep line over session
    boundaries with a hierarchical (hour-blocked) prefix sum.
    See analytics.session_concurrency."""
    from ksql_query_tutorial_spark.operators.analytics import (
        session_concurrency,
    )

    e = load(spark, sf_dir, "events")
    return session_concurrency(e, gap_minutes=SESSION_GAP_MIN)


@query(oracle="""
    WITH d AS (
        SELECT event_type, ts, value,
               (lead(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                - epoch_us(ts)) / 1000000.0 AS dur
        FROM events)
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           ROUND(sum(value * dur) / sum(dur), 6) AS twa_value,
           ROUND(sum(dur), 6) AS total_dur_sec,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM d WHERE dur IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
""")
def events_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per (type, day) with
    sample-and-hold semantics. See analytics.time_weighted_value."""
    from ksql_query_tutorial_spark.operators.analytics import (
        time_weighted_value,
    )

    return time_weighted_value(load(spark, sf_dir, "events"))


CUSUM_SLACK_SIGMAS = 0.5


CUSUM_ALARM_SIGMAS = 4.0


@query(oracle=f"""
    WITH cells AS (
        SELECT event_type AS etype, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    stats AS (
        SELECT etype,
               CAST(count(*) AS BIGINT) AS n_hours,
               CAST(sum(c) AS DOUBLE) / count(*) AS mu,
               sqrt(greatest(
                   CAST(sum(c * c) AS DOUBLE) / count(*)
                   - (CAST(sum(c) AS DOUBLE) / count(*))
                     * (CAST(sum(c) AS DOUBLE) / count(*)), 0.0)) AS sigma
        FROM cells GROUP BY 1),
    dev AS (
        SELECT cells.etype, h, n_hours, mu, sigma,
               CAST(c AS DOUBLE) - mu - {CUSUM_SLACK_SIGMAS} * sigma AS y
        FROM cells JOIN stats ON cells.etype = stats.etype),
    pref AS (
        SELECT *,
               sum(y) OVER (PARTITION BY etype ORDER BY h
                            ROWS UNBOUNDED PRECEDING) AS p
        FROM dev),
    walked AS (
        SELECT *,
               p - least(0.0, min(p) OVER (PARTITION BY etype ORDER BY h
                                           ROWS UNBOUNDED PRECEDING)) AS s
        FROM pref),
    alarmed AS (
        SELECT *,
               CASE WHEN s > {CUSUM_ALARM_SIGMAS} * sigma
                    THEN 1 ELSE 0 END AS alarm
        FROM walked)
    SELECT etype AS event_type, n_hours,
           ROUND(mu, 6) AS mu, ROUND(sigma, 6) AS sigma,
           ROUND(max(s), 6) AS max_cusum,
           CAST(sum(alarm) AS BIGINT) AS n_alarm_hours,
           min(CASE WHEN alarm = 1 THEN h END) AS first_alarm_hour
    FROM alarmed GROUP BY 1, 2, 3, 4 ORDER BY 1
""")
def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection on hourly event volumes per type,
    computed via the reflected-walk closed form (two cumulative
    windows, no recursion). See analytics.cusum_drift."""
    from ksql_query_tutorial_spark.operators.analytics import cusum_drift

    return cusum_drift(
        load(spark, sf_dir, "events"),
        slack_sigmas=CUSUM_SLACK_SIGMAS,
        alarm_sigmas=CUSUM_ALARM_SIGMAS,
    )


AB_MDE_REL = 0.05


@query(oracle=f"""
    -- micro-unit exact moments (HUGEINT sums mirroring Spark's
    -- decimal partials) so the closed form evaluates over identical
    -- doubles in both engines regardless of aggregation order (r6);
    -- the scale cancels out of n_per_arm and divides back out of
    -- mu/sigma/mde
    WITH q AS (SELECT event_type,
                      CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
               FROM events),
    m AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_obs,
                 CAST(sum(v) AS DOUBLE) AS s1,
                 CAST(sum(v * v) AS DOUBLE) AS s2
          FROM q GROUP BY 1)
    SELECT event_type, n_obs,
           ROUND(s1 / CAST(n_obs AS DOUBLE) / 1000000.0, 6) AS mu,
           ROUND(sqrt(greatest(s2 / CAST(n_obs AS DOUBLE)
                               - (s1 / CAST(n_obs AS DOUBLE))
                                 * (s1 / CAST(n_obs AS DOUBLE)), 0.0))
                 / 1000000.0, 6) AS sigma,
           ROUND({AB_MDE_REL} * (s1 / CAST(n_obs AS DOUBLE))
                 / 1000000.0, 6) AS mde_abs,
           CAST(ceil(16.0 * greatest(s2 / CAST(n_obs AS DOUBLE)
                                     - (s1 / CAST(n_obs AS DOUBLE))
                                       * (s1 / CAST(n_obs AS DOUBLE)), 0.0)
                     / (({AB_MDE_REL} * (s1 / CAST(n_obs AS DOUBLE)))
                        * ({AB_MDE_REL} * (s1 / CAST(n_obs AS DOUBLE)))))
               AS BIGINT)
               AS n_required_per_arm
    FROM m ORDER BY event_type
""")
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size requirements per event type from observed
    value variance. See analytics.power_analysis."""
    from ksql_query_tutorial_spark.operators.analytics import power_analysis

    return power_analysis(
        load(spark, sf_dir, "events"), mde_rel=AB_MDE_REL
    )


ROLLING_WINDOW_DAYS = 7


@query(oracle=f"""
    WITH cells AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE)
                       AS day, user_id
                   FROM events),
    observed AS (SELECT DISTINCT day FROM cells),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
            FROM cells GROUP BY 1),
    contrib AS (SELECT DISTINCT o.day, c.user_id
                FROM cells c JOIN observed o
                  ON o.day BETWEEN c.day
                     AND c.day + INTERVAL {ROLLING_WINDOW_DAYS - 1} DAYS),
    wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
            FROM contrib GROUP BY 1)
    SELECT dau.day, dau.dau, wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
               AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    ORDER BY 1
""")
def events_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per observed day.
    See analytics.rolling_actives."""
    from ksql_query_tutorial_spark.operators.analytics import (
        rolling_actives,
    )

    return rolling_actives(
        load(spark, sf_dir, "events"), window_days=ROLLING_WINDOW_DAYS
    )


@query(oracle="""
    WITH cells AS (SELECT DISTINCT event_type AS t, user_id AS u
                   FROM events),
    sizes AS (SELECT t, CAST(count(*) AS BIGINT) AS n
              FROM cells GROUP BY 1),
    both_t AS (SELECT a.t AS type_a, b.t AS type_b,
                      CAST(count(*) AS BIGINT) AS n_both
               FROM cells a JOIN cells b
                 ON a.u = b.u AND a.t < b.t
               GROUP BY 1, 2)
    SELECT type_a, type_b, n_both,
           sa.n AS n_a, sb.n AS n_b,
           ROUND(CAST(n_both AS DOUBLE)
                 / CAST(sa.n + sb.n - n_both AS DOUBLE), 6) AS jaccard
    FROM both_t JOIN sizes sa ON type_a = sa.t
                JOIN sizes sb ON type_b = sb.t
    ORDER BY 1, 2
""")
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap (shared users + Jaccard) across
    event types. See analytics.audience_overlap."""
    from ksql_query_tutorial_spark.operators.analytics import (
        audience_overlap,
    )

    return audience_overlap(load(spark, sf_dir, "events"))


@query(oracle="""
    WITH hourly AS (
        SELECT event_type AS etype, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    cells AS (
        SELECT etype, dayofweek(h) + 1 AS dow, hour(h) AS hod,
               CAST(count(*) AS BIGINT) AS n_hours,
               CAST(sum(c) AS BIGINT) AS s
        FROM hourly GROUP BY 1, 2, 3),
    grand AS (SELECT etype,
                     CAST(sum(s) AS DOUBLE) / sum(n_hours) AS gmean
              FROM cells GROUP BY 1),
    bd AS (SELECT etype, dow,
                  CAST(sum(s) AS DOUBLE) / sum(n_hours) AS dmean
           FROM cells GROUP BY 1, 2),
    bh AS (SELECT etype, hod,
                  CAST(sum(s) AS DOUBLE) / sum(n_hours) AS hmean
           FROM cells GROUP BY 1, 2)
    SELECT cells.etype AS event_type,
           CAST(cells.dow AS INT) AS dow, CAST(cells.hod AS INT) AS hod,
           n_hours,
           ROUND(CAST(s AS DOUBLE) / n_hours, 6) AS mean_count,
           ROUND(dmean + hmean - gmean, 6) AS fitted,
           ROUND(CAST(s AS DOUBLE) / n_hours
                 - (dmean + hmean - gmean), 6) AS residual
    FROM cells
    JOIN grand ON cells.etype = grand.etype
    JOIN bd ON cells.etype = bd.etype AND cells.dow = bd.dow
    JOIN bh ON cells.etype = bh.etype AND cells.hod = bh.hod
    ORDER BY 1, 2, 3
""")
def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-factor (day-of-week x hour-of-day) additive seasonality
    decomposition per event type. See analytics.seasonal_profile."""
    from ksql_query_tutorial_spark.operators.analytics import (
        seasonal_profile,
    )

    return seasonal_profile(load(spark, sf_dir, "events"))


@query(oracle=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arms AS (SELECT {hashes.ab_arm_sql('user_id')} AS arm
             FROM u),
    wide AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_a,
                    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_b
             FROM arms)
    SELECT n_users, n_a, n_b,
           ROUND(n_users * 0.5, 6) AS expected_a,
           ROUND(CASE WHEN n_users > 0 THEN
                 (n_a - n_users * 0.5) * (n_a - n_users * 0.5)
                     / (n_users * 0.5)
                 + (n_b - n_users * 0.5) * (n_b - n_users * 0.5)
                     / (n_users * 0.5) END, 6) AS chi2,
           CASE WHEN n_users > 0 THEN
                (n_a - n_users * 0.5) * (n_a - n_users * 0.5)
                    / (n_users * 0.5)
                + (n_b - n_users * 0.5) * (n_b - n_users * 0.5)
                    / (n_users * 0.5) > 3.841
           END AS srm_flag
    FROM wide
""")
def events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch hygiene check over the same hash-bucketed
    arms as events_ab_test. See analytics.ab_srm_check."""
    from ksql_query_tutorial_spark.operators.analytics import ab_srm_check

    return ab_srm_check(load(spark, sf_dir, "events"))


@query(oracle="""
    WITH cells AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE)
                       AS day, user_id
                   FROM events),
    first_d AS (SELECT user_id, min(day) AS fd FROM cells GROUP BY 1)
    SELECT day,
           CAST(sum(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           CAST(sum(CASE WHEN day <> fd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_returning,
           ROUND(CAST(sum(CASE WHEN day = fd THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS new_share
    FROM cells JOIN first_d USING (user_id)
    GROUP BY 1 ORDER BY 1
""")
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split: a user is NEW on their
    first-seen day and RETURNING on every later active day — the
    growth-accounting twin of events_rolling_actives (is the DAU curve
    acquisition or retention?).

    Scale design: one user-keyed rollup finds first-seen days; the
    daily split joins the bounded (day, user) cell table against it
    doc-keyed and rolls up per day. No windows.
    """
    e = load(spark, sf_dir, "events")
    cells = e.select(
        F.date_trunc("DAY", F.col("ts")).cast("date").alias("day"),
        "user_id",
    ).distinct()
    first = cells.groupBy("user_id").agg(F.min("day").alias("__first"))
    return (
        cells.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("__first"), 1).otherwise(0)
            ).cast("long").alias("n_new"),
            F.sum(
                F.when(F.col("day") != F.col("__first"), 1).otherwise(0)
            ).cast("long").alias("n_returning"),
        )
        .select(
            "day",
            "n_new",
            "n_returning",
            F.round(
                F.col("n_new").cast("double")
                / (F.col("n_new") + F.col("n_returning")).cast("double"),
                6,
            ).alias("new_share"),
        )
        .orderBy("day")
    )


ACF_MAX_LAG = 7


@query(oracle=f"""
    WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                          CAST(count(*) AS BIGINT) AS c
                   FROM events GROUP BY 1),
    b AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
    spine AS (SELECT CAST(unnest(range(CAST(dmin AS TIMESTAMP),
                                       CAST(dmax + 1 AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS DATE) AS day
              FROM b),
    series AS (SELECT s.day, CAST(coalesce(d.c, 0) AS BIGINT) AS c
               FROM spine s LEFT JOIN daily d ON s.day = d.day),
    lags AS (SELECT CAST(unnest(range(1, {ACF_MAX_LAG + 1})) AS BIGINT)
                 AS lag),
    paired AS (SELECT l.lag, s1.c AS x, s2.c AS y
               FROM series s1 CROSS JOIN lags l
               JOIN series s2
                 ON s2.day = s1.day + CAST(l.lag AS INTEGER)),
    m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
                 CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
                 CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
          FROM paired GROUP BY 1)
    SELECT lag, n_pairs,
           ROUND(CASE WHEN CAST(n_pairs AS DOUBLE) * sxx - sx * sx > 0
                       AND CAST(n_pairs AS DOUBLE) * syy - sy * sy > 0
                      THEN (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
                           / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                              * sqrt(CAST(n_pairs AS DOUBLE) * syy
                                     - sy * sy))
                 END, 6) AS acf
    FROM m ORDER BY lag
""")
def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the calendar-densified daily event-count
    series at lags 1..7 (the weekly-cycle read-out). See
    analytics.acf_daily."""
    from ksql_query_tutorial_spark.operators.analytics import acf_daily

    return acf_daily(load(spark, sf_dir, "events"), max_lag=ACF_MAX_LAG)


@query(oracle=f"""
    WITH daily AS (SELECT event_type,
                          CAST(date_trunc('day', ts) AS DATE) AS day,
                          CAST(count(*) AS BIGINT) AS c
                   FROM events GROUP BY 1, 2),
    b AS (SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS dmin,
                 CAST(max(date_trunc('day', ts)) AS DATE) AS dmax
          FROM events),
    spine AS (SELECT CAST(unnest(range(CAST(dmin AS TIMESTAMP),
                                       CAST(dmax + 1 AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS DATE) AS day,
                     dmin
              FROM b),
    ty AS (SELECT DISTINCT event_type FROM events),
    pts AS (SELECT ty.event_type AS g,
                   CAST(datediff('day', s.dmin, s.day) AS DOUBLE) AS x,
                   CAST(coalesce(d.c, 0) AS DOUBLE) AS y
            FROM ty CROSS JOIN spine s
            LEFT JOIN daily d
              ON d.event_type = ty.event_type AND d.day = s.day),
    {_ols_tail_sql("event_type")}
""")
def events_type_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily volume on the calendar-
    densified grid (collector-drift detector). See
    analytics.event_type_trend."""
    from ksql_query_tutorial_spark.operators.analytics import event_type_trend

    return event_type_trend(load(spark, sf_dir, "events"))


@query(oracle=f"""
    WITH b AS (SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS dmin,
                      CAST(max(date_trunc('day', ts)) AS DATE) AS dmax
               FROM events),
    mid AS (SELECT dmin + CAST(floor(
                CAST(datediff('day', dmin, dmax) AS DOUBLE) / 2)
                AS INTEGER) AS m
            FROM b),
    pu AS (SELECT user_id,
                  sum(CASE WHEN event_type = 'purchase'
                            AND CAST(date_trunc('day', ts) AS DATE)
                                < (SELECT m FROM mid)
                           THEN CAST(floor(value * 1000000.0 + 0.5)
                                     AS BIGINT) ELSE 0 END) AS x,
                  sum(CASE WHEN event_type = 'purchase'
                            AND CAST(date_trunc('day', ts) AS DATE)
                                >= (SELECT m FROM mid)
                           THEN CAST(floor(value * 1000000.0 + 0.5)
                                     AS BIGINT) ELSE 0 END) AS y
           FROM events GROUP BY 1),
    au AS (SELECT CAST({hashes.ab_arm_sql('user_id')} AS INTEGER) AS arm,
               CAST(x AS HUGEINT) AS x, CAST(y AS HUGEINT) AS y
           FROM pu),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_a,
                 CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_b,
                 CAST(sum(x) AS DOUBLE) AS sx,
                 CAST(sum(y) AS DOUBLE) AS sy,
                 CAST(sum(x * y) AS DOUBLE) AS sxy,
                 CAST(sum(x * x) AS DOUBLE) AS sxx,
                 CAST(sum(y * y) AS DOUBLE) AS syy,
                 CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS DOUBLE)
                     AS sxa,
                 CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS DOUBLE)
                     AS sya,
                 CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS DOUBLE)
                     AS sxb,
                 CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS DOUBLE)
                     AS syb
          FROM au)
    SELECT n_users, n_a, n_b,
           ROUND(CASE WHEN CAST(n_users AS DOUBLE) * sxx - sx * sx > 0
                 THEN (CAST(n_users AS DOUBLE) * sxy - sx * sy)
                      / (CAST(n_users AS DOUBLE) * sxx - sx * sx)
                 END, 6) AS theta,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0
                 THEN (syb / CAST(n_b AS DOUBLE)
                       - sya / CAST(n_a AS DOUBLE)) / 1000000.0
                 END, 6) AS effect_raw,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0
                  AND CAST(n_users AS DOUBLE) * sxx - sx * sx > 0
                 THEN ((syb / CAST(n_b AS DOUBLE)
                        - sya / CAST(n_a AS DOUBLE))
                       - ((CAST(n_users AS DOUBLE) * sxy - sx * sy)
                          / (CAST(n_users AS DOUBLE) * sxx - sx * sx))
                         * (sxb / CAST(n_b AS DOUBLE)
                            - sxa / CAST(n_a AS DOUBLE))) / 1000000.0
                 END, 6) AS effect_cuped,
           ROUND(CASE WHEN CAST(n_users AS DOUBLE) * sxx - sx * sx > 0
                  AND CAST(n_users AS DOUBLE) * syy - sy * sy > 0
                 THEN (CAST(n_users AS DOUBLE) * sxy - sx * sy)
                      * (CAST(n_users AS DOUBLE) * sxy - sx * sy)
                      / ((CAST(n_users AS DOUBLE) * sxx - sx * sx)
                         * (CAST(n_users AS DOUBLE) * syy - sy * sy))
                 END, 6) AS var_reduction
    FROM m
""")
def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B revenue effect: pre-period revenue
    as the control covariate, midpoint-day split, exact fixed-point
    moments. See analytics.cuped_ab_effect."""
    from ksql_query_tutorial_spark.operators.analytics import cuped_ab_effect

    return cuped_ab_effect(load(spark, sf_dir, "events"))


@query(oracle="""
    WITH s AS (SELECT user_id, event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev
               FROM events),
    pairs AS (SELECT prev AS prev_type, event_type AS next_type,
                     CAST(count(*) AS BIGINT) AS c
              FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
    pp AS (SELECT prev_type,
                  CAST(sum(c) AS BIGINT) AS n_transitions,
                  CAST(count(*) AS BIGINT) AS n_next_types,
                  sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                    AS clnc
           FROM pairs GROUP BY 1),
    tot AS (SELECT CAST(sum(n_transitions) AS BIGINT) AS N,
                   sum(CAST(n_transitions AS DOUBLE)
                       * ln(CAST(n_transitions AS DOUBLE))) AS snlnn,
                   sum(clnc) AS sclnc
            FROM pp)
    SELECT prev_type, n_transitions, n_next_types,
           ROUND(ln(CAST(n_transitions AS DOUBLE))
                 - clnc / CAST(n_transitions AS DOUBLE), 6) AS h_next,
           ROUND(CASE WHEN N > 0
                 THEN (snlnn - sclnc) / CAST(N AS DOUBLE) END, 6)
             AS rate_total
    FROM pp CROSS JOIN tot
    ORDER BY prev_type
""")
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order entropy rate of the event-type process (per-prev
    next-step entropy + transition-weighted total, nats). See
    analytics.entropy_rate."""
    from ksql_query_tutorial_spark.operators.analytics import entropy_rate

    return entropy_rate(load(spark, sf_dir, "events"))


# ------------------------------------------------------- SPRT / MAD (r9)

SPRT_P0 = 0.18
SPRT_P1 = 0.22
SPRT_ALPHA = 0.05
SPRT_BETA = 0.05


def _sprt_consts() -> tuple[str, str, str, str]:
    import math

    la = math.log(SPRT_P1 / SPRT_P0)
    lb = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
    upper = math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
    lower = math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))
    return repr(la), repr(lb), repr(upper), repr(lower)


_LA, _LB, _UP, _LO = _sprt_consts()


@query(oracle=f"""
    WITH e AS (SELECT {hashes.ab_arm_sql('user_id')} AS arm,
                      ts, event_id,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
               FROM events),
    c AS (SELECT arm, x,
                 sum(x) OVER (PARTITION BY arm ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS cum_c,
                 count(*) OVER (PARTITION BY arm ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS cum_n
          FROM e),
    l AS (SELECT arm, cum_n,
                 CAST(cum_c AS DOUBLE) * {_LA}
                 + CAST(cum_n - cum_c AS DOUBLE) * {_LB} AS llr
          FROM c),
    x AS (SELECT arm, min(cum_n) AS first_cross_n,
                 arg_min(llr, cum_n) AS llr_at
          FROM l WHERE llr >= {_UP} OR llr <= {_LO} GROUP BY arm),
    tot AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(x) AS BIGINT) AS n_conversions
            FROM e GROUP BY arm)
    SELECT t.arm, n_events, n_conversions,
           ROUND(CAST(n_conversions AS DOUBLE) * {_LA}
                 + CAST(n_events - n_conversions AS DOUBLE) * {_LB}, 6)
             AS llr_final,
           CAST(COALESCE(first_cross_n, 0) AS BIGINT) AS first_cross_n,
           CASE WHEN llr_at >= {_UP} THEN 'accept_h1'
                WHEN llr_at <= {_LO} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM tot t LEFT JOIN x USING (arm)
    ORDER BY arm
""")
def events_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential A/B test over the per-event conversion stream:
    exact-integer prefix counts drive the log-likelihood walk, first
    band exit = early-stopping decision. See analytics.sprt_conversion."""
    from ksql_query_tutorial_spark.operators.analytics import sprt_conversion

    e = load(spark, sf_dir, "events")
    return sprt_conversion(
        e, p0=SPRT_P0, p1=SPRT_P1, alpha=SPRT_ALPHA, beta=SPRT_BETA
    )


MAD_Z_THRESHOLD = 3.0


@query(oracle=f"""
    WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
                          CAST(count(*) AS BIGINT) AS n
                   FROM events GROUP BY 1, 2),
    med AS (SELECT event_type, quantile_cont(n, 0.5) AS med
            FROM daily GROUP BY 1),
    dev AS (SELECT d.event_type, d.day, d.n, m.med,
                   abs(CAST(d.n AS DOUBLE) - m.med) AS ad
            FROM daily d JOIN med m USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
            FROM dev GROUP BY 1)
    SELECT d.event_type, d.day, d.n,
           ROUND(d.med, 6) AS med,
           ROUND(m.mad, 6) AS mad,
           ROUND(CASE WHEN m.mad > 0
                      THEN (CAST(d.n AS DOUBLE) - d.med) / (1.4826 * m.mad)
                      ELSE 0.0 END, 6) AS robust_z,
           abs(CASE WHEN m.mad > 0
                    THEN (CAST(d.n AS DOUBLE) - d.med) / (1.4826 * m.mad)
                    ELSE 0.0 END) > {MAD_Z_THRESHOLD} AS is_anomaly
    FROM dev d JOIN mad m USING (event_type)
    ORDER BY d.event_type, d.day
""")
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily volume anomaly flags per event type (median/MAD
    z-scores — outlier-immune spread). See analytics.mad_anomalies."""
    from ksql_query_tutorial_spark.operators.analytics import mad_anomalies

    e = load(spark, sf_dir, "events")
    return mad_anomalies(e, z_threshold=MAD_Z_THRESHOLD)


# -------------------------------------------- diff-in-diff (r9)

DID_SPLIT = "2024-01-16 00:00:00"


def _did_cells_sql() -> str:
    parts = []
    for a, p, nm in ((0, 0, "a_pre"), (0, 1, "a_post"),
                     (1, 0, "b_pre"), (1, 1, "b_post")):
        cond = f"arm = {a} AND post = {p}"
        parts += [
            f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_{nm}",
            f"sum(CASE WHEN {cond} THEN q ELSE 0 END) AS s_{nm}",
            f"sum(CASE WHEN {cond} THEN q * q ELSE 0 END) AS s2_{nm}",
        ]
    return ",\n                 ".join(parts)


def _did_tail_sql() -> str:
    def mean(nm: str) -> str:
        return (f"CAST(s_{nm} AS DOUBLE) / CAST(n_{nm} AS DOUBLE)"
                f" / 1000000.0")

    def von(nm: str) -> str:
        m = mean(nm)
        n = f"CAST(n_{nm} AS DOUBLE)"
        return (f"(CAST(s2_{nm} AS DOUBLE) / 1000000000000.0"
                f" - {n} * ({m}) * ({m})) / ({n} - 1.0) / {n}")

    did = (f"(({mean('b_post')}) - ({mean('b_pre')}))"
           f" - (({mean('a_post')}) - ({mean('a_pre')}))")
    se = (f"sqrt({von('a_pre')} + {von('a_post')}"
          f" + {von('b_pre')} + {von('b_post')})")
    cols = [f"n_{nm}" for nm in ("a_pre", "a_post", "b_pre", "b_post")]
    cols += [f"ROUND({mean(nm)}, 6) AS mean_{nm}"
             for nm in ("a_pre", "a_post", "b_pre", "b_post")]
    cols += [f"ROUND({did}, 6) AS did",
             f"ROUND({se}, 6) AS se",
             f"ROUND(({did}) / ({se}), 6) AS t"]
    return ",\n           ".join(cols)


@query(oracle=f"""
    WITH c AS (SELECT {hashes.ab_arm_sql('user_id')} AS arm,
                      CASE WHEN ts >= TIMESTAMP '{DID_SPLIT}'
                           THEN 1 ELSE 0 END AS post,
                      CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS q
               FROM events WHERE event_type = 'purchase'),
    w AS (SELECT {_did_cells_sql()}
          FROM c)
    SELECT {_did_tail_sql()}
    FROM w
""")
def events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over purchase values with a
    mid-window intervention split — the quasi-experimental estimate
    under parallel trends. See analytics.did_effect."""
    from ksql_query_tutorial_spark.operators.analytics import did_effect

    e = load(spark, sf_dir, "events")
    return did_effect(e, split_ts=DID_SPLIT)


# ------------------------------------------------ Mann-Whitney (r9)


@query(oracle=f"""
    WITH per AS (
        SELECT user_id,
               {hashes.ab_arm_sql('user_id')} AS arm,
               SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS m
        FROM events GROUP BY 1, 2),
    vals AS (
        SELECT m,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb
        FROM per GROUP BY 1),
    c AS (
        SELECT na, nb,
               COALESCE(SUM(nb) OVER (ORDER BY m
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cb
        FROM vals),
    s AS (
        SELECT CAST(SUM(na) AS BIGINT) AS n_a,
               CAST(SUM(nb) AS BIGINT) AS n_b,
               CAST(SUM(na * (2 * cb + nb)) AS BIGINT) AS twice_u_a,
               CAST(SUM(CASE WHEN na + nb > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_tied_groups,
               SUM(CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb)
                   - (na + nb)) AS tie_cubes
        FROM c),
    d AS (
        SELECT *,
               CAST(n_a AS DOUBLE) AS nad,
               CAST(n_b AS DOUBLE) AS nbd,
               CAST(n_a + n_b AS DOUBLE) AS nd
        FROM s),
    e AS (
        SELECT *,
               nad * nbd / 12.0
                 * ((nd + 1)
                    - CAST(tie_cubes AS DOUBLE) / (nd * (nd - 1)))
                 AS sigma2
        FROM d)
    SELECT n_a, n_b, twice_u_a, n_tied_groups,
           ROUND(CASE WHEN sigma2 > 0
                      THEN (CAST(twice_u_a AS DOUBLE) - nad * nbd)
                           / (2.0 * sqrt(sigma2))
                      ELSE 0.0 END, 6) AS z,
           ROUND(CAST(twice_u_a AS DOUBLE) / (nad * nbd) - 1.0, 6)
               AS effect_r
    FROM e
""")
def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sum A/B test on per-user total spend — the nonparametric
    sibling of events_ab_test. See analytics.mann_whitney_value."""
    from ksql_query_tutorial_spark.operators.analytics import (
        mann_whitney_value,
    )

    return mann_whitney_value(load(spark, sf_dir, "events"))
