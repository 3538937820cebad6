"""Event-analytics extension queries over the events fixture: funnels,
sessions, attribution, windows, anomaly and drift detectors, retention,
engagement and experimentation readouts.

All but one are Spark SQL in the KSQL dialect, one ``CREATE TABLE`` each
in ``events.sql``, compiled like the tutorial's ``queries.sql``;
``ORACLES`` holds the DuckDB oracle of each, an independent second text
of the same semantics. The A/B readouts and the HyperLogLog sketch spell
their hashes ``AB_ARM`` and ``HLL_HASH`` in the script, and their oracles
restate them with the DuckDB twins of ``functions.hashes``.
``events_type_trend`` keeps a Python builder: it fits with
``ols_regression``, which the corpus and retail families share.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ksql_query_tutorial_spark.functions import hashes
from ksql_query_tutorial_spark.tables import load

from ._registry import query, script
from ._shared import *  # noqa: F401,F403 — shared constants/SQL fragments


def _did_cells_sql() -> str:
    """The DiD oracle's 12 cell moments: count, sum and sum of squares
    of the micro-unit values per (arm, period)."""
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
    """The DiD oracle's statistics over its one row of cell moments."""
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


ORACLES = {
    "events_funnel": """
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
""",
    "events_props_stats": """
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
""",
    "events_retention": """
    WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
                FROM events),
    f AS (SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY 1)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, uw.wk) // 7 AS INT)
             AS week_offset,
           count(*) AS n_users
    FROM uw JOIN f USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
""",
    "events_anomaly": """
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
""",
    "events_salted_agg": """
    SELECT event_type, count(*) AS n_rows,
           round(sum(value), 6) AS sum_val,
           round(sum(value) / count(*), 6) AS avg_val
    FROM events GROUP BY 1 ORDER BY 1
""",
    "events_moving_avg": """
    SELECT user_id, ts, event_id, value,
           round(avg(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                 6) AS moving_avg,
           round(value - lag(value, 1) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id),
                 6) AS delta
    FROM events ORDER BY user_id, ts, event_id
""",
    "events_top_paths": """
    WITH o AS (SELECT user_id, ts, event_id, event_type,
                      CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                               (PARTITION BY user_id ORDER BY ts, event_id)
                               > CAST(480 AS BIGINT) * 60000000
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
          FROM r WHERE rn <= 8
          GROUP BY user_id, sess)
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(avg(n_events), 6) AS avg_events
    FROM p GROUP BY path ORDER BY path
""",
    "events_histogram": """
    SELECT event_type AS group,
           CAST(floor(value / 5.0) AS BIGINT) AS bin,
           ROUND(CAST(floor(value / 5.0) AS BIGINT) * 5.0, 6) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n,
           min(value) AS min_v, max(value) AS max_v
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
    "events_markov": """
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
""",
    "events_attribution": """
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
                    AND us - (lt).us <= CAST(1440 AS BIGINT)
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
""",
    "events_scd2": """
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
""",
    "events_active_users": """
    WITH pairs AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE)
                                     AS day,
                                   user_id
                   FROM events),
    dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
            FROM pairs GROUP BY 1),
    contrib AS (SELECT CAST(unnest(range(CAST(day AS TIMESTAMP),
                                         CAST(day + 7
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
""",
    "events_sessions": """
    WITH o AS (SELECT user_id, ts, event_id,
                      CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                               (PARTITION BY user_id ORDER BY ts, event_id)
                               > CAST(30 AS BIGINT) * 60000000
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
""",
    "events_decay": """
    WITH tm AS (SELECT max(ts) AS t_max FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(sum(value * pow(2.0,
                 -((epoch_us((SELECT t_max FROM tm)) - epoch_us(ts)) / 1e6)
                  / (86400.0 * 7.0))), 6) AS decayed_value,
           max(ts) AS last_ts
    FROM events GROUP BY user_id ORDER BY user_id
""",
    "events_seasonal_baseline": """
    WITH h AS (SELECT event_type AS etype, date_trunc('hour', ts) AS hh,
                      CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2)
    SELECT a.etype AS event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           ROUND(avg(abs(a.c - b.c)), 6) AS mae,
           ROUND(avg(a.c - b.c), 6) AS bias
    FROM h a JOIN h b
      ON a.etype = b.etype
     AND a.hh = b.hh + INTERVAL 168 HOURS
    GROUP BY 1 ORDER BY 1
""",
    "events_multitouch": """
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
""",
    "events_incremental_rollup": """
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY event_type, day
""",
    "events_gap_fill": """
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               ROUND(sum(value), 6) AS rev,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE event_type = 'purchase'
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
""",
    "events_conversion_lag": """
    WITH fv AS (
        SELECT user_id, min(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY 1),
    conv AS (
        SELECT fv.user_id, min(e.ts) AS first_purchase
        FROM fv JOIN events e
          ON e.user_id = fv.user_id
         AND e.event_type = 'purchase'
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
""",
    "events_hopping_window": """
    WITH contrib AS (
        SELECT user_id,
               unnest(range(
                   CAST(floor(epoch_us(ts) / 21600000000)
                        AS BIGINT) - 3,
                   CAST(floor(epoch_us(ts) / 21600000000)
                        AS BIGINT) + 1)) AS hop
        FROM events)
    SELECT make_timestamp(hop * 21600000000)
             AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM contrib GROUP BY 1 ORDER BY 1
""",
    "events_tombstone_state": """
    WITH ranked AS (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events)
    SELECT user_id, event_id, event_type, value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
""",
    "events_value_quantiles": """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY 1 ORDER BY 1
""",
    "events_slo_burn": """
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
                 / (0.1 * CAST(sum(n_events) OVER (ORDER BY hour
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6)
             AS burn_ratio
    FROM cells ORDER BY hour
""",
    "events_bot_flags": """
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
           (peak_hourly_rate >= 20
            AND active_hours >= 2) AS is_bot
    FROM u ORDER BY user_id
""",
    "events_behavior_entropy": """
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
""",
    "events_concurrency": """
    WITH o AS (SELECT user_id, ts, event_id,
                      CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                               (PARTITION BY user_id ORDER BY ts, event_id)
                               > CAST(30 AS BIGINT) * 60000000
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
""",
    "events_twa": """
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
""",
    "events_cusum": """
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
               CAST(c AS DOUBLE) - mu - 0.5 * sigma AS y
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
               CASE WHEN s > 4.0 * sigma
                    THEN 1 ELSE 0 END AS alarm
        FROM walked)
    SELECT etype AS event_type, n_hours,
           ROUND(mu, 6) AS mu, ROUND(sigma, 6) AS sigma,
           ROUND(max(s), 6) AS max_cusum,
           CAST(sum(alarm) AS BIGINT) AS n_alarm_hours,
           min(CASE WHEN alarm = 1 THEN h END) AS first_alarm_hour
    FROM alarmed GROUP BY 1, 2, 3, 4 ORDER BY 1
""",
    "events_power_analysis": """
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
           ROUND(0.05 * (s1 / CAST(n_obs AS DOUBLE))
                 / 1000000.0, 6) AS mde_abs,
           CAST(ceil(16.0 * greatest(s2 / CAST(n_obs AS DOUBLE)
                                     - (s1 / CAST(n_obs AS DOUBLE))
                                       * (s1 / CAST(n_obs AS DOUBLE)), 0.0)
                     / ((0.05 * (s1 / CAST(n_obs AS DOUBLE)))
                        * (0.05 * (s1 / CAST(n_obs AS DOUBLE)))))
               AS BIGINT)
               AS n_required_per_arm
    FROM m ORDER BY event_type
""",
    "events_rolling_actives": """
    WITH cells AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE)
                       AS day, user_id
                   FROM events),
    observed AS (SELECT DISTINCT day FROM cells),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
            FROM cells GROUP BY 1),
    contrib AS (SELECT DISTINCT o.day, c.user_id
                FROM cells c JOIN observed o
                  ON o.day BETWEEN c.day
                     AND c.day + INTERVAL 6 DAYS),
    wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
            FROM contrib GROUP BY 1)
    SELECT dau.day, dau.dau, wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
               AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    ORDER BY 1
""",
    "events_audience_overlap": """
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
""",
    "events_seasonal_profile": """
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
""",
    "events_new_vs_returning": """
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
""",
    "events_acf": """
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
    lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT)
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
""",
    "events_entropy_rate": """
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
""",
    "events_anomaly_mad": """
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
                    ELSE 0.0 END) > 3.0 AS is_anomaly
    FROM dev d JOIN mad m USING (event_type)
    ORDER BY d.event_type, d.day
""",
    "events_hll_users": f"""
    WITH h AS (SELECT event_type, {hashes.hll_hash_sql('u')} AS hh
               FROM (SELECT event_type,
                            {hashes.hll_fold_sql('user_id')} AS u
                     FROM events)),
    regs AS (SELECT event_type, hh % 64 AS bucket,
                    max(57
                        - length(ltrim(bin(hh // 64), '0'))) AS r
             FROM h GROUP BY 1, 2),
    sk AS (SELECT event_type,
                  sum(CAST(power(2, 50 - least(r, 50)) AS BIGINT))
                    AS s_present,
                  count(*) AS n_present
           FROM regs GROUP BY 1),
    e2 AS (SELECT event_type, 64 - n_present AS zeros,
                  (CAST(2904.064 AS DOUBLE)
                   * CAST(1125899906842624.0 AS DOUBLE))
                  / CAST(s_present + (64 - n_present)
                         * {1 << 50} AS DOUBLE) AS raw
           FROM sk),
    fin AS (SELECT event_type,
                   ROUND(CASE WHEN raw <= 160.0
                                   AND zeros > 0
                         THEN 64.0
                              * ln(64.0
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
""",
    "events_ab_test": f"""
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
""",
    "events_ab_srm": f"""
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
""",
    "events_cuped": f"""
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
""",
    "events_sprt": f"""
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
                 CAST(cum_c AS DOUBLE) * 0.20067069546215124
                 + CAST(cum_n - cum_c AS DOUBLE) * -0.05001042057466142 AS llr
          FROM c),
    x AS (SELECT arm, min(cum_n) AS first_cross_n,
                 arg_min(llr, cum_n) AS llr_at
          FROM l WHERE llr >= 2.9444389791664403 OR llr <= -2.9444389791664403 GROUP BY arm),
    tot AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(x) AS BIGINT) AS n_conversions
            FROM e GROUP BY arm)
    SELECT t.arm, n_events, n_conversions,
           ROUND(CAST(n_conversions AS DOUBLE) * 0.20067069546215124
                 + CAST(n_events - n_conversions AS DOUBLE) * -0.05001042057466142, 6)
             AS llr_final,
           CAST(COALESCE(first_cross_n, 0) AS BIGINT) AS first_cross_n,
           CASE WHEN llr_at >= 2.9444389791664403 THEN 'accept_h1'
                WHEN llr_at <= -2.9444389791664403 THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM tot t LEFT JOIN x USING (arm)
    ORDER BY arm
""",
    "events_did": f"""
    WITH c AS (SELECT {hashes.ab_arm_sql('user_id')} AS arm,
                      CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                           THEN 1 ELSE 0 END AS post,
                      CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS q
               FROM events WHERE event_type = 'purchase'),
    w AS (SELECT {_did_cells_sql()}
          FROM c)
    SELECT {_did_tail_sql()}
    FROM w
""",
    "events_mann_whitney": f"""
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
""",
}

script(Path(__file__).with_name("events.sql"), ORACLES)


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
