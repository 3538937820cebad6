-- The 30 tutorial queries (SURVEY.md §2.8), declared once in the KSQL
-- dialect over the driver's fixture tables (TESTDATA.md). queries.py
-- compiles each SELECT with ksql.engine.select_over; the DuckDB oracle
-- of each name is in oracles.py. Citations are README.md / all.sql lines
-- of the reference tutorial. Constructs KSQL lacks (semi and anti joins,
-- percentiles, PIVOT, CUBE, broadcast hints) are Spark SQL, which the
-- dialect passes through. On `events`, __offset is event_id (the offset
-- analog, FIXTURES.md §B) and ts is the event time of WINDOW clauses.

-- [P1,S2] SELECT * FROM players EMIT CHANGES analog (README.md:97)
CREATE STREAM q01_full_scan AS SELECT * FROM region EMIT CHANGES;

-- [P2] projection + alias (README.md:124,131); the scan reads two columns
CREATE STREAM q02_projection AS SELECT c_name, c_mktsegment AS segment FROM customer;

-- [P3] UCASE (README.md:128-133)
CREATE STREAM q03_ucase AS SELECT n_nationkey, UCASE(n_name) AS n_name_uc FROM nation;

-- [P4] CASE WHEN in projection (README.md:136-148)
CREATE STREAM q04_case_when AS
SELECT o_orderkey, CASE WHEN o_totalprice > 150000 THEN 'BIG' ELSE 'SMALL' END AS bucket
FROM orders;

-- [F1] equality filter (README.md:150-156), pushed to the parquet scan
CREATE STREAM q05_eq_filter AS
SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING';

-- [F2] conjunctive filter (README.md:157-163), both conjuncts pushed
CREATE STREAM q06_conj_filter AS
SELECT l_orderkey, l_linenumber FROM lineitem
WHERE l_returnflag = 'R' AND l_linestatus = 'F';

-- [F3,F4] boolean predicate + NOT (README.md:236,260)
CREATE STREAM q07_bool_not AS
SELECT event_id FROM events WHERE NOT (event_type = 'view') AND value > 50.0;

-- [F5] IS NOT NULL (all.sql:91)
CREATE STREAM q08_not_null AS
SELECT event_id, user_id FROM events WHERE props IS NOT NULL;

-- [A1] GROUP BY + COUNT (README.md:232-238): partial + final hash aggregate
CREATE TABLE q09_group_count AS
SELECT event_type, COUNT(event_id) AS n FROM events GROUP BY event_type;

-- [A1,F1] filter then group-count, the home_goals shape (README.md:232-238);
-- the filter is pushed below the aggregate into the scan
CREATE TABLE q10_filtered_group_count AS
SELECT user_id, COUNT(event_id) AS purchases FROM events
WHERE event_type = 'purchase' GROUP BY user_id;

-- [A3] SUM(CASE WHEN ...) in one pass (README.md:280-295)
CREATE TABLE q11_conditional_sums AS
SELECT user_id,
  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases,
  SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks
FROM events GROUP BY user_id;

-- [A4,A5,P5,P6] COUNT_DISTINCT + derived ratio (README.md:388-394)
CREATE TABLE q12_count_distinct_ratio AS
SELECT user_id,
  ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT_DISTINCT(event_type) AS DOUBLE), 6) AS purchase_ratio
FROM events GROUP BY user_id;

-- [A6] LATEST_BY_OFFSET (all.sql:136-137)
CREATE TABLE q13_latest_by_offset AS
SELECT user_id, LATEST_BY_OFFSET(event_type) AS latest_event FROM events GROUP BY user_id;

-- [J1] inner equi-join (README.md:367-374); both sides are bounded dims,
-- so region is broadcast and nothing shuffles
CREATE STREAM q14_inner_join AS
SELECT /*+ BROADCAST(r) */ n_nationkey, n_name, r_name
FROM nation n INNER JOIN region r ON n.n_regionkey = r.r_regionkey;

-- [J2] left join keeping unmatched rows (all.sql:56-58); nation is bounded
CREATE STREAM q15_left_join AS
SELECT /*+ BROADCAST(n) */ c_custkey, c_name, n_name
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey;

-- [J1,A1,A7] join then aggregate (README.md:369-374; all.sql:94-98)
CREATE TABLE q16_join_group_count AS
SELECT o_custkey, COUNT(l_orderkey) AS items
FROM lineitem l INNER JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o_custkey;

-- [J1,A3,A4,A5,A6,A7] the player_stats CTAS analog (all.sql:129-160;
-- README.md:423-454): stream-table join, then one multi-aggregate pass
CREATE TABLE q17_player_stats AS
SELECT e.user_id,
  LATEST_BY_OFFSET(c.c_name) AS user_name,
  SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases,
  ROUND(CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT_DISTINCT(e.event_type) AS DOUBLE), 6) AS purchase_ratio,
  SUM(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END) AS clicks
FROM events e INNER JOIN customer c ON e.user_id = c.c_custkey
GROUP BY e.user_id EMIT CHANGES;

-- [A2,A3] composite grouping key (README.md:373,404,465), one shuffle
CREATE TABLE q18_multi_group AS
SELECT l_returnflag, l_linestatus, COUNT(l_orderkey) AS n, ROUND(SUM(l_quantity), 6) AS qty
FROM lineitem GROUP BY l_returnflag, l_linestatus;

-- [S4,P2] CSAS re-key (all.sql:45-51); PARTITION BY only selects the sink key
CREATE STREAM q19_csas_projection AS
SELECT event_id, event_type, user_id FROM events PARTITION BY user_id;

-- [windows] tumbling-window aggregate, the capability the join matrix
-- implies (README.md:356-360)
CREATE TABLE q20_windowed_agg AS
SELECT WINDOWSTART AS window_start, event_type,
  COUNT(event_id) AS n, ROUND(SUM(value), 6) AS total_value
FROM events WINDOW TUMBLING (SIZE 1 HOUR) GROUP BY event_type;

-- [J-ext] LEFT SEMI join: customers with at least one order
CREATE STREAM q21_semi_join AS
SELECT c_custkey, c_name FROM customer c LEFT SEMI JOIN orders o ON c.c_custkey = o.o_custkey;

-- [J-ext] LEFT ANTI join: customers with no recorded events (the NOT
-- EXISTS shape, null-safe unlike NOT IN)
CREATE STREAM q22_anti_join AS
SELECT c_custkey, c_name FROM customer c LEFT ANTI JOIN events e ON c.c_custkey = e.user_id;

-- [J-ext,A2,A3] five-table join (TPC-H Q5 flavor), revenue per region;
-- the bounded dims broadcast, so the last two joins add no shuffle
CREATE TABLE q23_revenue_by_region AS
SELECT /*+ BROADCAST(n, r) */ r_name,
  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
  COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r_name;

-- [J-ext,A2] shipped small parts per supplier nation
CREATE TABLE q24_parts_by_supplier_nation AS
SELECT s_nationkey, COUNT(*) AS n_lineitems, COUNT(DISTINCT p_partkey) AS n_parts,
  ROUND(SUM(l_quantity), 6) AS qty
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE p_size < 25 GROUP BY s_nationkey;

-- [J3] FULL OUTER join (README.md:356-360): heavy purchasers and heavy
-- clickers overlap only partly, so both null sides occur
CREATE TABLE q25_full_outer_join AS
SELECT * FROM
  (SELECT user_id, COUNT(*) AS purchases FROM events WHERE event_type = 'purchase'
   GROUP BY user_id HAVING COUNT(*) >= 12) p
FULL OUTER JOIN
  (SELECT user_id, COUNT(*) AS clicks FROM events WHERE event_type = 'click'
   GROUP BY user_id HAVING COUNT(*) >= 12) c
USING (user_id);

-- [A-ext] exact interpolated percentiles (DuckDB quantile_cont)
CREATE TABLE q26_percentiles AS
SELECT event_type,
  ROUND(percentile(value, 0.5), 6) AS p50, ROUND(percentile(value, 0.95), 6) AS p95,
  ROUND(MIN(value), 6) AS vmin, ROUND(MAX(value), 6) AS vmax
FROM events GROUP BY event_type;

-- [A-ext] PIVOT: per-user event counts, one column per listed event type
CREATE TABLE q27_pivot AS
SELECT * FROM (SELECT user_id, event_type FROM events)
PIVOT (COUNT(*) FOR event_type IN ('view', 'click', 'purchase', 'signup', 'error'));

-- [A-ext] CUBE over (returnflag, linestatus); GROUPING_ID tells the total rows apart
CREATE TABLE q28_cube AS
SELECT l_returnflag, l_linestatus, GROUPING_ID(l_returnflag, l_linestatus) AS gid,
  COUNT(*) AS n, ROUND(SUM(l_quantity), 6) AS qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus);

-- [windows] HOPPING: each event lands in size/advance = 4 windows, expanded
-- before the one shuffle
CREATE TABLE q29_hopping_window AS
SELECT WINDOWSTART AS window_start, event_type,
  COUNT(event_id) AS n, ROUND(SUM(value), 6) AS total_value
FROM events WINDOW HOPPING (SIZE 1 HOUR, ADVANCE BY 15 MINUTES) GROUP BY event_type;

-- [windows] SESSION: per-user bursts split by >= 30 minutes of silence,
-- sessionized inside the one aggregation
CREATE TABLE q30_session_window AS
SELECT WINDOWSTART AS session_start, WINDOWEND AS session_end, user_id,
  COUNT(event_id) AS n_events, ROUND(SUM(value), 6) AS total_value
FROM events WINDOW SESSION (30 MINUTES) GROUP BY user_id;
