-- The privacy audits of the customer table and its DP count release,
-- declared once each as Spark SQL in the KSQL dialect: the k-anonymity /
-- l-diversity / t-closeness triad over the (nation, market segment)
-- quasi-identifier, with order priority as the sensitive attribute, the
-- generalization ladder that repairs a k-anonymity leak, and the Laplace
-- release whose noise comes from TOKEN_HASH, the dialect's spelling of
-- the portable token hash. privacy_q.py registers each with its DuckDB
-- oracle; queries.compiled builds it over the fixture tables it names, as
-- for events.sql and retail.sql. Literals are the thresholds (k = 5, l =
-- 3, t = 0.2, epsilon = 1); every table is named after FROM or JOIN, and
-- comments stand on their own lines.

-- k-anonymity audit: the histogram of equivalence-class sizes over the
-- quasi-identifier tuple, with classes under k = 5 flagged at risk (rows
-- a linkage attack can single out). One exchange on the quasi-identifier,
-- then a second aggregate keyed on the class size, a domain bounded by
-- the largest class.
CREATE TABLE privacy_k_anonymity AS
WITH classes AS (
  SELECT count(1) AS __sz FROM customer GROUP BY c_nationkey, c_mktsegment)
SELECT CAST(class_size AS BIGINT) AS class_size, n_classes, n_rows, class_size < 5 AS at_risk
FROM (SELECT __sz AS class_size, count(1) AS n_classes, CAST(sum(__sz) AS BIGINT) AS n_rows
      FROM classes GROUP BY __sz)
ORDER BY class_size;

-- l-diversity audit: per quasi-identifier class, the distinct order
-- priorities (distinct l) and the entropy variant exp(H) (entropy l),
-- flagged when fewer than l = 3 distinct values: a class can be
-- k-anonymous yet leak the attribute when every member shares one value.
-- H = ln(n) - (sum c ln c) / n over exact integer counts, so any engine
-- reproduces it. One exchange on (class, value), then one on the class.
CREATE TABLE privacy_l_diversity AS
WITH cells AS (
  SELECT c_nationkey, c_mktsegment, o_orderpriority AS __sv, count(1) AS __c
  FROM (SELECT c_nationkey, c_mktsegment, o_orderpriority
        FROM orders JOIN customer ON o_custkey = c_custkey)
  GROUP BY c_nationkey, c_mktsegment, o_orderpriority),
g AS (
  SELECT c_nationkey, c_mktsegment, CAST(sum(__c) AS BIGINT) AS n_rows,
    count(1) AS distinct_l, sum(CAST(__c AS DOUBLE) * ln(CAST(__c AS DOUBLE))) AS __clnc
  FROM cells GROUP BY c_nationkey, c_mktsegment)
SELECT c_nationkey, c_mktsegment, n_rows, distinct_l,
  round(exp(ln(CAST(n_rows AS DOUBLE)) - __clnc / CAST(n_rows AS DOUBLE)), 6) AS entropy_l,
  distinct_l < 3 AS at_risk
FROM g ORDER BY c_nationkey, c_mktsegment;

-- t-closeness audit: per class, the total-variation distance
-- 1/2 sum_v |p_class(v) - p_global(v)| between the class's order-priority
-- distribution and the corpus's (the categorical form of the t-closeness
-- EMD), flagged over t = 0.2. Both distributions come from exact integer
-- counts. The class x value grid, needed so a value absent from a class
-- still contributes |0 - p_global|, is a broadcast cross join of two
-- bounded tables.
CREATE TABLE privacy_t_closeness AS
WITH cells AS (
  SELECT c_nationkey, c_mktsegment, o_orderpriority AS __sv, count(1) AS __c
  FROM (SELECT c_nationkey, c_mktsegment, o_orderpriority
        FROM orders JOIN customer ON o_custkey = c_custkey)
  GROUP BY c_nationkey, c_mktsegment, o_orderpriority),
cls AS (
  SELECT c_nationkey, c_mktsegment, CAST(sum(__c) AS BIGINT) AS n_rows
  FROM cells GROUP BY c_nationkey, c_mktsegment),
glob AS (
  SELECT __sv, CAST(__gc AS DOUBLE) / sum(__gc) OVER () AS __pg
  FROM (SELECT __sv, sum(__c) AS __gc FROM cells GROUP BY __sv)),
grid AS (SELECT /*+ BROADCAST(glob) */ * FROM cls CROSS JOIN glob),
j AS (
  SELECT *, CAST(coalesce(__c, 0) AS DOUBLE) / CAST(n_rows AS DOUBLE) AS __pc
  FROM grid LEFT JOIN cells USING (c_nationkey, c_mktsegment, __sv)),
tv AS (
  SELECT c_nationkey, c_mktsegment, n_rows,
    round(sum(abs(__pc - __pg)) * 0.5D, 6) AS tv_distance
  FROM j GROUP BY c_nationkey, c_mktsegment, n_rows)
SELECT *, tv_distance > 0.2D AS at_risk FROM tv ORDER BY c_nationkey, c_mktsegment;

-- k-anonymity generalization ladder, the repair step after a flagged
-- leak: (nation, segment) -> (region, segment) -> (segment) -> full
-- suppression, with each rung's class count, smallest class and rows in
-- classes under k = 5; a release picks the coarsest rung that is k-ok.
-- All four rungs come from one customer scan by GROUPING SETS (the
-- broadcast nation join supplies the region for every rung), reduced by
-- grouping_id(). The join is LEFT, so a customer whose nation is missing
-- lands in a null-region class on the region rung only and counts
-- normally everywhere else. The rungs are a literal table left-joined to
-- the report, so an empty input still reports every rung, with n_classes
-- 0 and null min, at-risk and k_ok.
CREATE TABLE privacy_generalization AS
WITH cr AS (
  SELECT /*+ BROADCAST(n) */ *
  FROM customer LEFT JOIN (SELECT n_nationkey, n_regionkey FROM nation) n
    ON c_nationkey = n_nationkey),
classes AS (
  SELECT count(1) AS __sz, grouping_id() AS __gid
  FROM cr GROUP BY c_nationkey, c_mktsegment, n_regionkey
  GROUPING SETS ((c_nationkey, c_mktsegment), (n_regionkey, c_mktsegment), (c_mktsegment), ())),
stats AS (
  SELECT __gid, count(1) AS n_classes, CAST(min(__sz) AS BIGINT) AS min_class_size,
    CAST(sum(CASE WHEN __sz < 5 THEN __sz ELSE 0 END) AS BIGINT) AS n_at_risk_rows
  FROM classes GROUP BY __gid),
report AS (
  SELECT CASE __gid WHEN 1 THEN 0 WHEN 4 THEN 1 WHEN 5 THEN 2 WHEN 7 THEN 3 END AS level,
    CASE __gid WHEN 1 THEN 'nation+segment' WHEN 4 THEN 'region+segment' WHEN 5 THEN 'segment'
      WHEN 7 THEN 'suppressed' END AS label,
    n_classes, min_class_size, n_at_risk_rows, min_class_size >= 5 AS k_ok
  FROM stats),
rungs AS (
  SELECT * FROM VALUES (0, 'nation+segment'), (1, 'region+segment'), (2, 'segment'),
    (3, 'suppressed') AS rungs(level, label))
SELECT level, label, CAST(coalesce(n_classes, 0) AS BIGINT) AS n_classes, min_class_size,
  n_at_risk_rows, k_ok
FROM rungs LEFT JOIN report USING (level, label) ORDER BY level;

-- Differentially private count release (Laplace mechanism, sensitivity
-- 1, epsilon = 1): per market segment, the true count plus Laplace(1 /
-- epsilon) noise drawn by inverse CDF from TOKEN_HASH of the segment key,
-- the uniform draw u = (h mod 10^6 + 0.5) / 10^6. Deterministic, so the
-- oracle compares the release value for value, yet distributed as the
-- sampled mechanism; a production release swaps the hash for a real RNG
-- and drops n_true, kept here for the yield audit. One segment-keyed
-- count rollup with map-side partials; the noise is per-segment
-- arithmetic on the |segments| rows.
CREATE TABLE privacy_dp_counts AS
WITH counts AS (
  SELECT c_mktsegment AS group_key, CAST(count(1) AS BIGINT) AS n_true
  FROM customer GROUP BY c_mktsegment)
SELECT group_key, n_true,
  round(n_true + -1.0D
    * signum((CAST(pmod(TOKEN_HASH(group_key), 1000000) AS DOUBLE) + 0.5D) / 1000000.0D - 0.5D)
    * ln(1.0D - 2.0D
      * abs((CAST(pmod(TOKEN_HASH(group_key), 1000000) AS DOUBLE) + 0.5D) / 1000000.0D - 0.5D)),
    4) AS n_released,
  1.0D AS epsilon
FROM counts ORDER BY group_key;
