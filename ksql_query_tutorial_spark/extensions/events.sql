-- The event-stream analytics over the events fixture (user_id, ts,
-- event_id, event_type, value, props): funnels, sessions, attribution,
-- windows, anomaly and drift detectors, retention and engagement rollups,
-- declared once each as Spark SQL in the KSQL dialect. events_q.py
-- registers each with its DuckDB oracle; queries.compiled builds it, as
-- for queries.sql and retail.sql, with ksql.engine.select_over over the
-- fixture tables it names. On events, __offset is event_id, so
-- LATEST_BY_OFFSET keeps the row with the highest event id. Physical
-- choices are written into the text: BROADCAST hints on bounded build
-- sides, a salted two-level aggregate, and a final ORDER BY where the
-- query sorts its result. Literals are the query parameters (gaps, TTLs,
-- windows, thresholds); the oracles state the same values. ts is TIMESTAMP
-- or TIMESTAMP_NTZ, so epoch arithmetic reads
-- unix_micros(CAST(ts AS TIMESTAMP)) under the session time zone (UTC).
-- Every table is named after FROM or JOIN, hours and weekdays are read
-- with hour(ts) and dayofweek(ts), and comments stand on their own lines.

-- Ordered view -> click -> purchase funnel per user: each step's first
-- completion must come strictly after the previous step's (a purchase
-- before the first view does not count), so the depth is the count of
-- non-null steps. The three windows stack on one user-keyed exchange and
-- the per-user rollup reuses that partitioning: one shuffle in all.
CREATE TABLE events_funnel AS
WITH v AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
      OVER (PARTITION BY user_id) AS first_view
  FROM events),
c AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > first_view THEN ts END)
      OVER (PARTITION BY user_id) AS first_click
  FROM v),
p AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > first_click THEN ts END)
      OVER (PARTITION BY user_id) AS first_purchase
  FROM c),
f AS (
  SELECT user_id, max(first_view) AS first_view, max(first_click) AS first_click,
    max(first_purchase) AS first_purchase
  FROM p GROUP BY user_id)
SELECT user_id, first_view, first_click, first_purchase,
  CAST(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END
    + CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END
    + CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END AS INT) AS funnel_depth
FROM f;

-- Typed stats of the integer property k in the schemaless-JSON props
-- column (the JsonConverter schemas.enable=false pattern of the reference,
-- applied to an embedded column): a typed from_json parse, JVM-side, then
-- a per-type aggregate whose partials collapse each map task to
-- |event types| rows.
CREATE TABLE events_props_stats AS
WITH p AS (SELECT *, from_json(props, 'k BIGINT').k AS _k FROM events)
SELECT event_type, count(1) AS n_events, count(DISTINCT user_id) AS n_users,
  sum(_k) AS sum_k, min(_k) AS min_k, max(_k) AS max_k, round(avg(_k), 6) AS avg_k
FROM p GROUP BY event_type;

-- Weekly cohort retention: a user's cohort is the Monday-start week of
-- their first event, and each cell counts the cohort's users active
-- week_offset weeks later. One user-keyed exchange gathers each user's
-- active weeks (bounded by the calendar); after the explode every (user,
-- week) pair is unique, so count(1) is the distinct-user count.
CREATE TABLE events_retention AS
WITH per_user AS (
  SELECT user_id, min(wk) AS cohort_week, collect_set(wk) AS weeks
  FROM (SELECT user_id, date_trunc('week', ts) AS wk FROM events)
  GROUP BY user_id),
cells AS (
  SELECT cohort_week, CAST(datediff(wk, cohort_week) / 7 AS INT) AS week_offset
  FROM (SELECT cohort_week, explode(weeks) AS wk FROM per_user))
SELECT cohort_week, week_offset, count(1) AS n_users
FROM cells GROUP BY cohort_week, week_offset;

-- Hourly volume anomalies per event type: counts z-scored against the
-- type's own distribution, |z| > 2 flagged. The mean and stddev come from
-- exact integer count moments (decimal partials, order-independent) in
-- the sample-variance closed form, so ROUND(z, 6) cannot drift with the
-- merge order of stddev_samp's partials. The per-type stats are |types|
-- rows, broadcast back onto the hourly cells; a single-hour type (stddev
-- NULL) flags false, never NULL.
CREATE TABLE events_anomaly AS
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(1) AS n_events
  FROM events GROUP BY 1, 2),
moments AS (
  SELECT event_type, count(1) AS __nh,
    sum(CAST(n_events AS DECIMAL(38, 0))) AS __s1,
    sum(CAST(n_events AS DECIMAL(38, 0)) * CAST(n_events AS DECIMAL(38, 0))) AS __s2
  FROM hourly GROUP BY event_type),
stats AS (
  SELECT event_type, CAST(__s1 AS DOUBLE) / CAST(__nh AS DOUBLE) AS _mean,
    CASE WHEN __nh > 1 THEN sqrt(greatest(
      (CAST(__s2 AS DOUBLE) - CAST(__s1 AS DOUBLE) * (CAST(__s1 AS DOUBLE) / CAST(__nh AS DOUBLE)))
      / (CAST(__nh AS DOUBLE) - 1.0D), 0.0D)) END AS _std
  FROM moments)
SELECT /*+ BROADCAST(stats) */ event_type, hour, n_events,
  round((n_events - _mean) / _std, 6) AS z,
  coalesce(abs((n_events - _mean) / _std) > 2.0D, false) AS is_anomaly
FROM hourly JOIN stats USING (event_type);

-- Two-level salted aggregation over the 5-key event_type grouping: level
-- one aggregates on (key, salt) so a hot key's rows spread over 16
-- reducers, level two merges the partials. The salt is a row hash, not
-- rand(), so retries are bit-identical, and the result equals the plain
-- aggregate by construction (count and sum merge).
CREATE TABLE events_salted_agg AS
WITH level1 AS (
  SELECT event_type, __salt, count(1) AS __n, sum(value) AS __s
  FROM (SELECT event_type, value,
          CAST(pmod(xxhash64(event_type, value), 16) AS INT) AS __salt
        FROM events)
  GROUP BY event_type, __salt),
level2 AS (
  SELECT event_type, sum(__n) AS n_rows, sum(__s) AS __s2
  FROM level1 GROUP BY event_type)
SELECT event_type, n_rows, round(__s2, 6) AS sum_val, round(__s2 / n_rows, 6) AS avg_val
FROM level2;

-- Per-user trailing 3-event moving average and step delta: both windows
-- share one (user; ts, event_id) spec, so they stack on one exchange and
-- sort; the event_id tiebreak makes frames deterministic under equal
-- timestamps.
CREATE TABLE events_moving_avg AS
WITH smoothed AS (
  SELECT *,
    round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg,
    round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta
  FROM events)
SELECT user_id, ts, event_id, value, moving_avg, delta FROM smoothed;

-- Session path histogram (funnel discovery, next to events_funnel's
-- fixed-order check): gap-sessionize each user's events (a gap over 480
-- minutes opens a session; fixture users emit events hours apart) and
-- count the ordered event-type journeys of each session's first 8 steps.
-- Sessionizing is the gaps-and-islands pair, a lag flag and a running
-- sum, stacked on one (user; ts, event_id) window spec; the per-session
-- gather groups on (user, session), which that partitioning already
-- clusters, so there is no second full exchange.
CREATE TABLE events_top_paths AS
WITH flagged AS (
  SELECT *, CASE WHEN unix_micros(CAST(ts AS TIMESTAMP))
      - lag(unix_micros(CAST(ts AS TIMESTAMP)), 1)
        OVER (PARTITION BY user_id ORDER BY ts, event_id) > 28800000000
    THEN 1 ELSE 0 END AS _new
  FROM events),
sessioned AS (
  SELECT *, sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _sess
  FROM flagged),
paths AS (
  SELECT user_id, array_join(transform(slice(evs, 1, 8), s -> s.et), '>') AS path,
    size(evs) AS n_events
  FROM (SELECT user_id, _sess,
          sort_array(collect_list(struct(ts, event_id AS tb, event_type AS et))) AS evs
        FROM sessioned GROUP BY user_id, _sess))
SELECT path, count(1) AS n_sessions, count(DISTINCT user_id) AS n_users,
  round(avg(n_events), 6) AS avg_events
FROM paths GROUP BY path;

-- Fixed-width (5.0) value histogram per event type: bin = floor(value /
-- 5.0) is one IEEE divide and floor, identical in any engine, so the
-- histogram is oracle-exact where a quantile sketch is not. NULL values
-- land in a NULL bin, so every row is counted. The same text runs on a
-- stream in update mode.
CREATE TABLE events_histogram AS
WITH binned AS (
  SELECT event_type AS `group`, __bin AS bin, count(1) AS n, min(value) AS min_v,
    max(value) AS max_v
  FROM (SELECT *, floor(value / 5.0D) AS __bin FROM events)
  GROUP BY event_type, __bin)
SELECT `group`, bin, round(bin * 5.0D, 6) AS bin_lo, n, min_v, max_v
FROM binned;

-- First-order transition matrix of consecutive event types per user (the
-- sequence-model fit artifact): one user-keyed lag window, a |types|^2
-- rollup, and the row totals broadcast back to normalize.
CREATE TABLE events_markov AS
WITH pairs AS (
  SELECT __prev AS prev_type, event_type AS next_type, count(1) AS n
  FROM (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __prev
        FROM events)
  WHERE __prev IS NOT NULL GROUP BY __prev, event_type),
totals AS (SELECT prev_type, sum(n) AS __tot FROM pairs GROUP BY prev_type)
SELECT /*+ BROADCAST(totals) */ prev_type, next_type, n,
  round(CAST(n AS DOUBLE) / CAST(__tot AS DOUBLE), 6) AS p
FROM pairs JOIN totals USING (prev_type);

-- Last-touch attribution: each purchase is credited to the user's most
-- recent strictly-preceding click or view within 24 h (1440 minutes).
-- One user-keyed exchange: a running max(struct(us, id, type)) over the
-- touches with an unbounded-preceding-to-previous-row frame, then the TTL
-- filter; no join. Conversions without an in-TTL touch keep NULL touch
-- columns. Minutes are fixed-point half-up micro-minutes, (delta_us + 30)
-- / 60 truncated, so no engine rounds a binary-float boundary differently.
CREATE TABLE events_attribution AS
WITH touched AS (
  SELECT *,
    max(CASE WHEN event_type IN ('click', 'view') THEN struct(
          unix_micros(CAST(ts AS TIMESTAMP)) AS us, event_id AS id, event_type AS tt) END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS __last
  FROM events),
conv AS (
  SELECT *, __last IS NOT NULL
      AND unix_micros(CAST(ts AS TIMESTAMP)) - __last.us <= 86400000000 AS __ok
  FROM touched WHERE event_type = 'purchase')
SELECT user_id, event_id AS conversion_id, ts AS conversion_ts,
  CASE WHEN __ok THEN __last.id END AS touch_id,
  CASE WHEN __ok THEN timestampadd(MICROSECOND, __last.us - unix_micros(CAST(ts AS TIMESTAMP)), ts) END AS touch_ts,
  CASE WHEN __ok THEN __last.tt END AS touch_type,
  CASE WHEN __ok THEN CAST(CAST((unix_micros(CAST(ts AS TIMESTAMP)) - __last.us + 30) / 60 AS BIGINT) AS DOUBLE) / 1000000.0D
  END AS mins_since_touch
FROM conv;

-- Type-2 dimension history: each user's event_type treated as a
-- CDC-tracked state; consecutive repeats collapse into versions whose
-- valid_to is the next version's start (NULL = current). Change detection,
-- version close and the version counter are stacked windows on one user
-- partitioning.
CREATE TABLE events_scd2 AS
WITH changes AS (
  SELECT * FROM (
    SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __prev
    FROM events)
  WHERE __prev IS NULL OR NOT (__prev <=> event_type)),
versions AS (
  SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
  FROM changes),
counted AS (SELECT *, count(1) OVER (PARTITION BY user_id) AS n_changes_total FROM versions)
SELECT user_id AS key, event_type AS state, version, ts AS valid_from, valid_to,
  n_changes_total
FROM counted;

-- Daily and rolling-7-day distinct active users with DAU/WAU stickiness.
-- The stream first collapses to distinct (day, user) pairs; each pair
-- fans out to the 7 target days it makes the user active for (a bounded
-- explode, not a windowed set union), and one distinct count per target
-- day finishes. Exchanges carry (day, user) rows, never raw events.
CREATE TABLE events_active_users AS
WITH pairs AS (
  SELECT DISTINCT CAST(date_trunc('DAY', ts) AS DATE) AS day, user_id FROM events),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM pairs GROUP BY day),
wau AS (
  SELECT target_day AS day, count(DISTINCT user_id) AS wau
  FROM (SELECT explode(sequence(day, date_add(day, 6))) AS target_day, day, user_id
        FROM pairs)
  GROUP BY target_day)
SELECT day, dau, wau, round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
FROM dau JOIN wau USING (day);

-- Per-day session quality (count, users, duration, depth, bounce rate)
-- over 30-minute gap sessions: the events_top_paths sessionizing on one
-- user-keyed exchange, then a per-day rollup of one row per session.
-- Durations average exact integer microsecond bounds, so only the final
-- divide touches doubles.
CREATE TABLE events_sessions AS
WITH flagged AS (
  SELECT *, CASE WHEN unix_micros(CAST(ts AS TIMESTAMP))
      - lag(unix_micros(CAST(ts AS TIMESTAMP)), 1)
        OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
    THEN 1 ELSE 0 END AS _new
  FROM events),
sessioned AS (
  SELECT *, sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _sess
  FROM flagged),
per_sess AS (
  SELECT user_id, _sess, min(ts) AS start_ts,
    min(unix_micros(CAST(ts AS TIMESTAMP))) AS start_us,
    max(unix_micros(CAST(ts AS TIMESTAMP))) AS end_us, count(1) AS n_events
  FROM sessioned GROUP BY user_id, _sess)
SELECT CAST(date_trunc('DAY', start_ts) AS DATE) AS day, count(1) AS n_sessions,
  count(DISTINCT user_id) AS n_users,
  round(avg(end_us - start_us) / 1000000.0D, 6) AS avg_session_sec,
  round(avg(n_events), 6) AS avg_events,
  round(avg(CASE WHEN n_events = 1 THEN 1 ELSE 0 END), 6) AS bounce_rate
FROM per_sess GROUP BY 1;

-- Per-user exponentially time-decayed engagement, sum(value *
-- 2^(-age / 7 days)), with age measured back from the corpus-wide latest
-- event (deterministic, unlike now()). The reference time is a one-row
-- aggregate broadcast back over the table, then one user-keyed exchange
-- with map-side partial sums.
CREATE TABLE events_decay AS
SELECT /*+ BROADCAST(t) */ user_id, count(1) AS n_events,
  round(sum(value * power(2.0D,
    -(unix_micros(CAST(__t_max AS TIMESTAMP)) / 1000000.0D
      - unix_micros(CAST(ts AS TIMESTAMP)) / 1000000.0D) / 604800.0D)), 6) AS decayed_value,
  max(ts) AS last_ts
FROM events CROSS JOIN (SELECT max(ts) AS __t_max FROM events) t
GROUP BY user_id ORDER BY user_id;

-- Seasonal-naive (week-ago, 168 h) hourly-volume forecast backtest per
-- event type: one hourly rollup, then a self-join of that bounded table
-- on the shifted hour. Hours with no events on either side do not score.
CREATE TABLE events_seasonal_baseline AS
WITH hourly AS (
  SELECT event_type AS etype, date_trunc('HOUR', ts) AS h, count(1) AS c
  FROM events GROUP BY 1, 2),
prev AS (SELECT etype AS p_etype, h + INTERVAL 168 HOURS AS p_h, c AS c_prev FROM hourly)
SELECT etype AS event_type, count(1) AS n_hours,
  round(avg(abs(c - c_prev)), 6) AS mae, round(avg(c - c_prev), 6) AS bias
FROM hourly JOIN prev ON etype = p_etype AND h = p_h
GROUP BY etype ORDER BY event_type;

-- Linear multi-touch attribution: each purchase splits one unit of credit
-- equally over the user's clicks and views in the strictly-preceding 24 h.
-- No conversion-to-touch join: per-type touch counts come from range-frame
-- windows over the microsecond timestamp ([ts - TTL, ts - 1 us], so a
-- same-instant touch is excluded as in last-touch) on one user-keyed
-- exchange; coalesce keeps an empty frame in the (none) bucket. One tiny
-- aggregate is stacked into a row per touch type.
CREATE TABLE events_multitouch AS
WITH typed AS (
  SELECT event_type AS __t, unix_micros(CAST(ts AS TIMESTAMP)) AS __us, user_id FROM events),
conv AS (
  SELECT * FROM (
    SELECT *,
      coalesce(sum(CASE WHEN __t = 'click' THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        ORDER BY __us RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING), 0) AS __n_0,
      coalesce(sum(CASE WHEN __t = 'view' THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        ORDER BY __us RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING), 0) AS __n_1
    FROM typed)
  WHERE __t = 'purchase'),
wide AS (
  SELECT count(CASE WHEN __n_0 > 0 THEN 1 END) AS __reached_0,
    round(sum(CASE WHEN __n_0 + __n_1 > 0 THEN CAST(__n_0 AS DOUBLE) / (__n_0 + __n_1)
              ELSE 0.0D END), 6) AS __credit_0,
    count(CASE WHEN __n_1 > 0 THEN 1 END) AS __reached_1,
    round(sum(CASE WHEN __n_0 + __n_1 > 0 THEN CAST(__n_1 AS DOUBLE) / (__n_0 + __n_1)
              ELSE 0.0D END), 6) AS __credit_1,
    count(CASE WHEN __n_0 + __n_1 = 0 THEN 1 END) AS __none
  FROM conv)
SELECT stack(3, 'click', __reached_0, __credit_0, 'view', __reached_1, __credit_1,
             '(none)', __none, 0.0D) AS (touch_type, reached_conversions, credit)
FROM wide ORDER BY touch_type;

-- Incremental materialized-aggregate maintenance: the (type, day) rollup
-- as the merge of a pre-aggregated base (rows before the cutoff, standing
-- in for the materialized table) with the raw delta batch (rows at or
-- after it). Counts and sums compose, so a union of partials and one
-- re-aggregate equal the full recompute, which is what the oracle states.
CREATE TABLE events_incremental_rollup AS
WITH base AS (
  SELECT event_type, CAST(date_trunc('DAY', ts) AS DATE) AS day, count(1) AS n_events,
    sum(value) AS sum_value
  FROM events WHERE ts < CAST('2024-01-20 00:00:00' AS TIMESTAMP) GROUP BY 1, 2),
delta AS (
  SELECT event_type, CAST(date_trunc('DAY', ts) AS DATE) AS day, count(1) AS n_events,
    sum(value) AS sum_value
  FROM events WHERE ts >= CAST('2024-01-20 00:00:00' AS TIMESTAMP) GROUP BY 1, 2)
SELECT event_type, day, CAST(sum(n_events) AS BIGINT) AS n_events,
  round(sum(sum_value), 6) AS sum_value
FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
GROUP BY event_type, day ORDER BY event_type, day;

-- Calendar gap fill with forward fill of per-user daily purchase revenue:
-- each user's sparse daily series is densified onto a sequence(min_day,
-- max_day) spine, generated executor-side, and the last observed value is
-- carried across the gaps by the portable two-window trick (a running
-- count of observations numbers the carry groups, max over (user, group)
-- propagates), with no IGNORE NULLS dependency.
CREATE TABLE events_gap_fill AS
WITH daily AS (
  SELECT user_id, to_date(ts) AS day, round(sum(value), 6) AS rev, count(1) AS n_events
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
spine AS (
  SELECT user_id, explode(sequence(dmin, dmax)) AS day
  FROM (SELECT user_id, min(day) AS dmin, max(day) AS dmax FROM daily GROUP BY user_id)),
grouped AS (
  SELECT *, sum(CASE WHEN rev IS NOT NULL THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __grp
  FROM spine LEFT JOIN daily USING (user_id, day)),
filled AS (SELECT *, max(rev) OVER (PARTITION BY user_id, __grp) AS filled_rev FROM grouped)
SELECT user_id, day, CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
  CAST(rev IS NOT NULL AS INT) AS observed, filled_rev
FROM filled ORDER BY user_id, day;

-- Cohort view -> purchase conversion lag: per day of first view, the users
-- exposed, the users whose first purchase came strictly after it, and the
-- average and maximum lag in seconds. The first-completion pair rides the
-- events_funnel windows on one user-keyed exchange; lags sum as exact
-- epoch-microsecond integers, divided once.
CREATE TABLE events_conversion_lag AS
WITH v AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
      OVER (PARTITION BY user_id) AS first_view
  FROM events),
p AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > first_view THEN ts END)
      OVER (PARTITION BY user_id) AS first_purchase
  FROM v),
f AS (
  SELECT user_id, max(first_view) AS first_view, max(first_purchase) AS first_purchase
  FROM p GROUP BY user_id)
SELECT CAST(date_trunc('DAY', first_view) AS DATE) AS cohort_day, count(1) AS n_exposed,
  count(first_purchase) AS n_converted,
  CASE WHEN count(first_purchase) > 0 THEN round(
    CAST(sum(unix_micros(CAST(first_purchase AS TIMESTAMP))
             - unix_micros(CAST(first_view AS TIMESTAMP))) AS DOUBLE)
    / CAST(count(first_purchase) AS DOUBLE) / 1000000.0D, 4) END AS avg_lag_sec,
  round(CAST(max(unix_micros(CAST(first_purchase AS TIMESTAMP))
                 - unix_micros(CAST(first_view AS TIMESTAMP))) AS DOUBLE) / 1000000.0D, 4)
    AS max_lag_sec
FROM f WHERE first_view IS NOT NULL GROUP BY 1 ORDER BY cohort_day;

-- Hopping-window event and user counts, 24 h windows every 6 h: the batch
-- twin of window(ts, '24 hours', '6 hours'). Each event fans out to the 4
-- hop-aligned window starts that contain it (integer epoch arithmetic, no
-- window spine join), and one window-keyed rollup finishes.
CREATE TABLE events_hopping_window AS
WITH contrib AS (
  SELECT user_id, explode(sequence(
      floor(unix_micros(CAST(ts AS TIMESTAMP)) / 21600000000) - 3,
      floor(unix_micros(CAST(ts AS TIMESTAMP)) / 21600000000))) AS __hop
  FROM events)
SELECT timestamp_micros(__hop * 21600000000) AS window_start, count(1) AS n_events,
  count(DISTINCT user_id) AS n_users
FROM contrib GROUP BY 1 ORDER BY window_start;

-- Tombstone-aware changelog state: per user the latest event wins, and a
-- user whose latest event is an 'error' (the tombstone analog of a
-- ksqlDB null-valued table record) drops out of the state. One user-keyed
-- aggregation tracks the running latest; the tombstone filter runs on the
-- one-row-per-user result.
CREATE TABLE events_tombstone_state AS
SELECT user_id, event_id, event_type, value
FROM (
  SELECT user_id, LATEST_BY_OFFSET(event_id) AS event_id,
    LATEST_BY_OFFSET(event_type) AS event_type, LATEST_BY_OFFSET(value) AS value
  FROM events GROUP BY user_id)
WHERE event_type <> 'error' ORDER BY user_id;

-- Exact interpolated p50/p95/p99 of the event value per event type (the
-- latency-SLO readout shape): one type-keyed exact percentile aggregate
-- (Spark percentile = DuckDB quantile_cont), output bounded at |types|.
CREATE TABLE events_value_quantiles AS
SELECT event_type, count(1) AS n,
  round(percentile(value, 0.5D), 6) AS p50,
  round(percentile(value, 0.95D), 6) AS p95,
  round(percentile(value, 0.99D), 6) AS p99
FROM events GROUP BY event_type ORDER BY event_type;

-- Hourly error-budget burn-down against a 10% target error rate: one
-- hourly rollup, then cumulative sums over the bounded hour cells (a
-- global ordering over calendar cells, not events). A burn ratio over 1
-- means the cumulative budget is spent.
CREATE TABLE events_slo_burn AS
WITH cells AS (
  SELECT date_trunc('HOUR', ts) AS hour, count(1) AS n_events,
    sum(CAST(event_type = 'error' AS BIGINT)) AS n_errors
  FROM events GROUP BY 1)
SELECT hour, n_events, n_errors,
  round(CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE), 6) AS err_rate,
  round(CAST(sum(n_errors) OVER (ORDER BY hour
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    / (0.1D * CAST(sum(n_events) OVER (ORDER BY hour
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6) AS burn_ratio
FROM cells ORDER BY hour;

-- Bot-traffic screen: per user the peak and mean hourly event rate, and a
-- flag for sustained superhuman activity (a peak of 20 or more events in
-- an hour AND at least 2 active hours). Two bounded rollups: (user, hour)
-- cells, then per-user stats over the cells.
CREATE TABLE events_bot_flags AS
WITH cells AS (
  SELECT user_id, date_trunc('HOUR', ts) AS __h, count(1) AS __n FROM events GROUP BY 1, 2),
per_user AS (
  SELECT user_id, sum(__n) AS n_events, count(1) AS active_hours, max(__n) AS peak_hourly_rate
  FROM cells GROUP BY user_id)
SELECT user_id, n_events, active_hours, peak_hourly_rate,
  round(CAST(n_events AS DOUBLE) / CAST(active_hours AS DOUBLE), 4) AS avg_hourly_rate,
  peak_hourly_rate >= 20 AND active_hours >= 2 AS is_bot
FROM per_user ORDER BY user_id;

-- Per-user Shannon entropy (nats) of the event-type distribution, from
-- (user, type) cells as H = ln(n) - (sum c ln c) / n: counts stay exact
-- integers and the only floats are per-row ln over them, so the rounded
-- entropy is engine-portable.
CREATE TABLE events_behavior_entropy AS
WITH cells AS (
  SELECT user_id, event_type AS __t, count(1) AS __c FROM events GROUP BY 1, 2),
per_user AS (
  SELECT user_id, sum(__c) AS n_events, count(1) AS n_types,
    sum(CAST(__c AS DOUBLE) * ln(CAST(__c AS DOUBLE))) AS __clnc
  FROM cells GROUP BY user_id)
SELECT user_id, n_events, n_types,
  round(ln(CAST(n_events AS DOUBLE)) - __clnc / CAST(n_events AS DOUBLE), 6) AS entropy
FROM per_user ORDER BY user_id;

-- Peak concurrent 30-minute-gap sessions per day: a sweep line over
-- session boundaries (+1 at a start, -1 just after an end); a day's peak
-- is the running sum's maximum at that day's session starts. Boundaries
-- collapse to one row per distinct microsecond instant (an explode, not a
-- union, which would re-run the sessionizing per branch), and the running
-- sum is a hierarchical prefix sum: an intra-hour-block window (parallel
-- across blocks) plus per-block offsets from the tiny block table,
-- broadcast back; never one global window over the timeline.
CREATE TABLE events_concurrency AS
WITH flagged AS (
  SELECT *, CASE WHEN unix_micros(CAST(ts AS TIMESTAMP))
      - lag(unix_micros(CAST(ts AS TIMESTAMP)), 1)
        OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
    THEN 1 ELSE 0 END AS _new
  FROM events),
sessioned AS (
  SELECT *, sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _sess
  FROM flagged),
per_sess AS (
  SELECT user_id, _sess, min(unix_micros(CAST(ts AS TIMESTAMP))) AS start_us,
    max(unix_micros(CAST(ts AS TIMESTAMP))) AS end_us
  FROM sessioned GROUP BY user_id, _sess),
bounds AS (
  SELECT e.t, e.d
  FROM (SELECT explode(array(struct(start_us AS t, 1 AS d), struct(end_us + 1 AS t, -1 AS d))) AS e
        FROM per_sess)),
inst AS (
  SELECT t, sum(d) AS net, sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS starts
  FROM bounds GROUP BY t),
base AS (SELECT *, CAST(t / 3600000000 AS BIGINT) AS __blk FROM inst),
blk_off AS (
  SELECT __blk, coalesce(sum(__tot) OVER (ORDER BY __blk
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __off
  FROM (SELECT __blk, sum(net) AS __tot FROM base GROUP BY __blk)),
cum AS (
  SELECT /*+ BROADCAST(blk_off) */ *, __off + __cum_in AS __conc
  FROM (SELECT *, sum(net) OVER (PARTITION BY __blk ORDER BY t
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __cum_in
        FROM base)
  JOIN blk_off USING (__blk))
SELECT to_date(timestamp_micros(t)) AS day, CAST(sum(starts) AS BIGINT) AS n_starts,
  CAST(max(__conc) AS BIGINT) AS peak_concurrency
FROM cum WHERE starts > 0 GROUP BY 1 ORDER BY day;

-- Time-weighted average value per (day, event type) with sample-and-hold
-- semantics: each reading holds until the same user's next event, and a
-- user's last reading has no interval. Durations are exact microsecond
-- differences divided once; one user-keyed lead window, then a bounded
-- rollup.
CREATE TABLE events_twa AS
WITH held AS (
  SELECT * FROM (
    SELECT *, CAST(lead(unix_micros(CAST(ts AS TIMESTAMP)), 1)
        OVER (PARTITION BY user_id ORDER BY ts, event_id)
        - unix_micros(CAST(ts AS TIMESTAMP)) AS DOUBLE) / 1000000.0D AS __dur
    FROM events)
  WHERE __dur IS NOT NULL),
cells AS (
  SELECT CAST(date_trunc('DAY', ts) AS DATE) AS day, event_type,
    sum(value * __dur) AS __vw, sum(__dur) AS __w, count(1) AS n_intervals
  FROM held GROUP BY 1, 2)
SELECT day, event_type, round(__vw / __w, 6) AS twa_value,
  round(__w, 6) AS total_dur_sec, n_intervals
FROM cells ORDER BY day, event_type;

-- One-sided CUSUM drift detection on hourly volumes per type, slack 0.5
-- sigma, alarm at 4 sigma. The recursion S_t = max(0, S_{t-1} + y_t) is the
-- closed form S_t = P_t - min(0, min_{j<=t} P_j) over the prefix sum P of
-- the deviations (the walk reflected at 0), so it is two ordinary
-- cumulative windows. Observed hours only. mu and sigma come from exact
-- integer count moments.
CREATE TABLE events_cusum AS
WITH cells AS (
  SELECT event_type AS etype, date_trunc('HOUR', ts) AS h, count(1) AS c
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT etype, n_hours, CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mu,
    sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_hours AS DOUBLE)
      - CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE)
        * (CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE)), 0.0D)) AS sigma
  FROM (SELECT etype, count(1) AS n_hours, sum(c) AS s1, sum(c * c) AS s2
        FROM cells GROUP BY etype)),
pref AS (
  SELECT *, sum(__y) OVER (PARTITION BY etype ORDER BY h
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __p
  FROM (SELECT *, CAST(c AS DOUBLE) - mu - 0.5D * sigma AS __y
        FROM cells JOIN stats USING (etype))),
walked AS (
  SELECT *, CAST(__s > 4.0D * sigma AS INT) AS __alarm
  FROM (SELECT *, __p - least(0.0D, min(__p) OVER (PARTITION BY etype ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS __s
        FROM pref))
SELECT etype AS event_type, n_hours, round(mu, 6) AS mu, round(sigma, 6) AS sigma,
  round(max(__s), 6) AS max_cusum, CAST(sum(__alarm) AS BIGINT) AS n_alarm_hours,
  min(CASE WHEN __alarm = 1 THEN h END) AS first_alarm_hour
FROM walked GROUP BY etype, n_hours, mu, sigma ORDER BY event_type;

-- A/B sample size per event type from the observed value variance:
-- n_per_arm = 16 sigma^2 / delta^2 (two-sided alpha 0.05, power 0.8) for a
-- minimum detectable effect of 5% of the mean. Values quantize to integer
-- micro-units and the moments sum exactly in decimal partials, so mu,
-- sigma and the ceil evaluate over identical doubles in any engine; the
-- scale cancels out of n_per_arm.
CREATE TABLE events_power_analysis AS
WITH moments AS (
  SELECT event_type, count(1) AS n_obs, sum(__v) AS __s1, sum(__v * __v) AS __s2
  FROM (SELECT event_type,
          CAST(floor(value * 1000000.0D + 0.5D) AS DECIMAL(38, 0)) AS __v FROM events)
  GROUP BY event_type),
u AS (
  SELECT event_type, n_obs, CAST(__s1 AS DOUBLE) / CAST(n_obs AS DOUBLE) AS mu_u,
    greatest(CAST(__s2 AS DOUBLE) / CAST(n_obs AS DOUBLE)
      - CAST(__s1 AS DOUBLE) / CAST(n_obs AS DOUBLE)
        * (CAST(__s1 AS DOUBLE) / CAST(n_obs AS DOUBLE)), 0.0D) AS var_u
  FROM moments)
SELECT event_type, n_obs, round(mu_u / 1000000.0D, 6) AS mu,
  round(sqrt(var_u) / 1000000.0D, 6) AS sigma,
  round(0.05D * mu_u / 1000000.0D, 6) AS mde_abs,
  CAST(ceil(16.0D * var_u / (0.05D * mu_u * (0.05D * mu_u))) AS BIGINT) AS n_required_per_arm
FROM u ORDER BY event_type;

-- DAU, trailing-7-day WAU and stickiness per observed day. (day, user)
-- cells fan out to the 7 report days they count for, each fan-out row
-- flagged when it is the origin day, so one (day, user) dedup keeping
-- max(flag) yields both counts: DAU = flagged rows, WAU = all rows, and a
-- report day is observed exactly when its DAU > 0. One scan, bounded
-- exchanges, no cache.
CREATE TABLE events_rolling_actives AS
WITH cells AS (
  SELECT DISTINCT CAST(date_trunc('DAY', ts) AS DATE) AS day, user_id AS uid FROM events),
per_cell AS (
  SELECT day, uid, max(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS __a0
  FROM (SELECT posexplode(sequence(day, date_add(day, 6))) AS (k, day), uid FROM cells)
  GROUP BY day, uid),
per_day AS (
  SELECT day, CAST(sum(__a0) AS BIGINT) AS dau, count(1) AS wau FROM per_cell GROUP BY day)
SELECT day, dau, wau, round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
FROM per_day WHERE dau > 0 ORDER BY day;

-- Pairwise audience overlap across event types: users doing both and the
-- Jaccard of the two audiences. Distinct (type, user) cells self-join on
-- the user (per-user fan-out bounded by |types|^2), the pair rollup is
-- keyed on the bounded type-pair domain, and the audience sizes broadcast.
CREATE TABLE events_audience_overlap AS
WITH cells AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
sizes AS (SELECT t, count(1) AS n FROM cells GROUP BY t),
a AS (SELECT t AS ta, u FROM cells),
b AS (SELECT t AS tb, u FROM cells),
pairs AS (
  SELECT ta AS type_a, tb AS type_b, count(1) AS n_both
  FROM a JOIN b USING (u) WHERE ta < tb GROUP BY ta, tb),
na AS (SELECT t AS type_a, n AS n_a FROM sizes),
nb AS (SELECT t AS type_b, n AS n_b FROM sizes)
SELECT /*+ BROADCAST(na, nb) */ type_a, type_b, n_both, n_a, n_b,
  round(CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE), 6) AS jaccard
FROM pairs JOIN na USING (type_a) JOIN nb USING (type_b)
ORDER BY type_a, type_b;

-- Two-factor additive seasonality of hourly volume per type: count =
-- grand mean + day-of-week effect + hour-of-day effect over the (dow, hod)
-- grid, with each cell's observed mean, fit and residual. One rollup
-- collapses the corpus to a |types| x 168 grid; the factor means are
-- window sums over that grid in one linear plan. Three grid aggregations
-- joined back re-ran the corpus rollup per consumer, and a persisted grid
-- measured about 2x slower at sf0.1.
CREATE TABLE events_seasonal_profile AS
WITH cells AS (
  SELECT etype, dayofweek(h) AS dow, hour(h) AS hod, count(1) AS n_hours, sum(c) AS s
  FROM (SELECT event_type AS etype, date_trunc('HOUR', ts) AS h, count(1) AS c
        FROM events GROUP BY 1, 2)
  GROUP BY 1, 2, 3),
means AS (
  SELECT *, CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean_c,
    CAST(sum(s) OVER (PARTITION BY etype) AS DOUBLE)
      / CAST(sum(n_hours) OVER (PARTITION BY etype) AS DOUBLE) AS gmean,
    CAST(sum(s) OVER (PARTITION BY etype, dow) AS DOUBLE)
      / CAST(sum(n_hours) OVER (PARTITION BY etype, dow) AS DOUBLE) AS dmean,
    CAST(sum(s) OVER (PARTITION BY etype, hod) AS DOUBLE)
      / CAST(sum(n_hours) OVER (PARTITION BY etype, hod) AS DOUBLE) AS hmean
  FROM cells)
SELECT etype AS event_type, dow, hod, n_hours, round(mean_c, 6) AS mean_count,
  round(gmean + (dmean - gmean) + (hmean - gmean), 6) AS fitted,
  round(mean_c - (gmean + (dmean - gmean) + (hmean - gmean)), 6) AS residual
FROM means ORDER BY event_type, dow, hod;

-- Daily new-vs-returning split: a user is new on their first-seen day
-- and returning on every later active day (is the DAU curve acquisition
-- or retention?). One user-keyed rollup finds first-seen days; the
-- bounded (day, user) cells join it and roll up per day. No windows.
CREATE TABLE events_new_vs_returning AS
WITH cells AS (
  SELECT DISTINCT CAST(date_trunc('DAY', ts) AS DATE) AS day, user_id FROM events),
first_seen AS (SELECT user_id, min(day) AS __first FROM cells GROUP BY user_id),
split AS (
  SELECT day, CAST(sum(CASE WHEN day = __first THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
    CAST(sum(CASE WHEN day <> __first THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
  FROM cells JOIN first_seen USING (user_id) GROUP BY day)
SELECT day, n_new, n_returning,
  round(CAST(n_new AS DOUBLE) / CAST(n_new + n_returning AS DOUBLE), 6) AS new_share
FROM split ORDER BY day;

-- Autocorrelation of the calendar-densified daily event count at lags
-- 1..7 (a weekly cycle shows as a lag-7 peak); missing days are explicit
-- zeros, since skipping them would shift every lag. The five moments per
-- lag sum exactly in decimal partials and the correlation is one
-- fixed-shape expression, NULL on zero variance. Only the daily rollup is
-- corpus-sized; the spine, the series x lags cross join and the moment
-- rollup are calendar-bounded. No global ORDER BY window.
CREATE TABLE events_acf AS
WITH daily AS (SELECT to_date(ts) AS day, count(1) AS c FROM events GROUP BY 1),
series AS (
  SELECT day, CAST(coalesce(c, 0) AS BIGINT) AS c
  FROM (SELECT explode(sequence(dmin, dmax)) AS day
        FROM (SELECT min(day) AS dmin, max(day) AS dmax FROM daily)
        WHERE dmin IS NOT NULL)
  LEFT JOIN daily USING (day)),
lags AS (SELECT CAST(id AS BIGINT) AS lag FROM range(1, 8)),
xs AS (SELECT day AS d0, c AS x FROM series),
ys AS (SELECT day AS d1, c AS y FROM series),
paired AS (
  SELECT * FROM (
    SELECT /*+ BROADCAST(lags) */ *, date_add(d0, CAST(lag AS INT)) AS d1
    FROM xs CROSS JOIN lags)
  JOIN ys USING (d1)),
m AS (
  SELECT lag, count(1) AS n_pairs, sum(CAST(x AS DECIMAL(38, 0))) AS __sx,
    sum(CAST(y AS DECIMAL(38, 0))) AS __sy,
    sum(CAST(x AS DECIMAL(38, 0)) * CAST(y AS DECIMAL(38, 0))) AS __sxy,
    sum(CAST(x AS DECIMAL(38, 0)) * CAST(x AS DECIMAL(38, 0))) AS __sxx,
    sum(CAST(y AS DECIMAL(38, 0)) * CAST(y AS DECIMAL(38, 0))) AS __syy
  FROM paired GROUP BY lag),
d AS (
  SELECT lag, n_pairs, CAST(n_pairs AS DOUBLE) AS n, CAST(__sx AS DOUBLE) AS sx,
    CAST(__sy AS DOUBLE) AS sy, CAST(__sxy AS DOUBLE) AS sxy, CAST(__sxx AS DOUBLE) AS sxx,
    CAST(__syy AS DOUBLE) AS syy
  FROM m)
SELECT lag, n_pairs,
  round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        THEN (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END, 6)
    AS acf
FROM d ORDER BY lag;

-- First-order entropy rate of the event-type process: per previous type,
-- the entropy (nats) of the next type, and the transition-weighted total
-- rate = (sum n_i ln n_i - sum c_ij ln c_ij) / N from one single-row
-- aggregate, not a sum over per-row doubles. One user-keyed lag window, a
-- |types|^2 pair rollup, and a broadcast totals row.
CREATE TABLE events_entropy_rate AS
WITH pairs AS (
  SELECT __prev AS prev_type, event_type AS next_type, count(1) AS c
  FROM (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS __prev
        FROM events)
  WHERE __prev IS NOT NULL GROUP BY __prev, event_type),
per_prev AS (
  SELECT prev_type, sum(c) AS n_transitions, count(1) AS n_next_types,
    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS __clnc
  FROM pairs GROUP BY prev_type),
totals AS (
  SELECT sum(n_transitions) AS __N,
    sum(CAST(n_transitions AS DOUBLE) * ln(CAST(n_transitions AS DOUBLE))) AS __snlnn,
    sum(__clnc) AS __sclnc
  FROM per_prev)
SELECT /*+ BROADCAST(totals) */ prev_type, n_transitions, n_next_types,
  round(ln(CAST(n_transitions AS DOUBLE)) - __clnc / CAST(n_transitions AS DOUBLE), 6) AS h_next,
  round(CASE WHEN __N > 0 THEN (__snlnn - __sclnc) / CAST(__N AS DOUBLE) END, 6) AS rate_total
FROM per_prev CROSS JOIN totals ORDER BY prev_type;

-- Robust daily volume anomalies per type: flag days more than 3 robust
-- standard deviations (MAD x 1.4826) from the type's median; median and
-- MAD ignore the outliers they hunt. Both percentile passes and the flag
-- joins run on the |types| x |days| rollup, with exact percentiles.
-- Measured and kept: the rollup subtree appears four times in the plan,
-- and pinning it measured slower at sf0.1 (1.56 s against 1.24 s), since
-- independent scans parallelize where a pin serializes.
CREATE TABLE events_anomaly_mad AS
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(1) AS n FROM events GROUP BY 1, 2),
med AS (SELECT event_type, percentile(n, 0.5D) AS med FROM daily GROUP BY event_type),
dev AS (
  SELECT /*+ BROADCAST(med) */ *, abs(CAST(n AS DOUBLE) - med) AS __ad
  FROM daily JOIN med USING (event_type)),
mad AS (SELECT event_type, percentile(__ad, 0.5D) AS mad FROM dev GROUP BY event_type),
scored AS (
  SELECT /*+ BROADCAST(mad) */ *,
    CASE WHEN mad > 0 THEN (CAST(n AS DOUBLE) - med) / (1.4826D * mad) ELSE 0.0D END AS __z
  FROM dev JOIN mad USING (event_type))
SELECT event_type, day, n, round(med, 6) AS med, round(mad, 6) AS mad,
  round(__z, 6) AS robust_z, abs(__z) > 3.0D AS is_anomaly
FROM scored ORDER BY event_type, day;
