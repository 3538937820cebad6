"""Privacy extension queries over the customer and orders fixtures:
the k-anonymity / l-diversity / t-closeness audits, the generalization
ladder that repairs a k-anonymity leak, and a differentially private
count release.

All five are Spark SQL in the KSQL dialect, one ``CREATE TABLE`` each
in ``privacy.sql``, compiled like the tutorial's ``queries.sql``;
``ORACLES`` holds the DuckDB oracle of each. ``privacy_dp_counts`` draws
its noise from the portable token hash, spelled ``TOKEN_HASH`` in the
script and restated by its oracle with the DuckDB twin of
``functions.hashes``.
"""

from __future__ import annotations

from pathlib import Path

from ksql_query_tutorial_spark.functions import hashes

from ._registry import script
from ._shared import *  # noqa: F401,F403 — shared constants/SQL fragments

ORACLES = {
    "privacy_k_anonymity": """
    WITH c AS (SELECT c_nationkey, c_mktsegment, count(*) AS sz
               FROM customer GROUP BY 1, 2)
    SELECT CAST(sz AS BIGINT) AS class_size,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           sz < 5 AS at_risk
    FROM c GROUP BY sz ORDER BY class_size
""",
    "privacy_l_diversity": """
    WITH cells AS (
        SELECT c_nationkey, c_mktsegment, o_orderpriority,
               CAST(count(*) AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2, 3),
    g AS (SELECT c_nationkey, c_mktsegment,
                 CAST(sum(c) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS distinct_l,
                 sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
          FROM cells GROUP BY 1, 2)
    SELECT c_nationkey, c_mktsegment, n_rows, distinct_l,
           ROUND(exp(ln(CAST(n_rows AS DOUBLE))
                     - clnc / CAST(n_rows AS DOUBLE)), 6) AS entropy_l,
           distinct_l < 3 AS at_risk
    FROM g ORDER BY c_nationkey, c_mktsegment
""",
    "privacy_t_closeness": """
    WITH cells AS (
        SELECT c_nationkey, c_mktsegment, o_orderpriority AS sv,
               CAST(count(*) AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2, 3),
    cls AS (SELECT c_nationkey, c_mktsegment,
                   CAST(sum(c) AS BIGINT) AS n_rows
            FROM cells GROUP BY 1, 2),
    gtot AS (SELECT sv, sum(c) AS gc FROM cells GROUP BY 1),
    gp AS (SELECT sv, CAST(gc AS DOUBLE)
                      / (SELECT sum(gc) FROM gtot) AS pg
           FROM gtot),
    grid AS (SELECT cls.*, gp.sv, gp.pg FROM cls CROSS JOIN gp),
    j AS (SELECT grid.c_nationkey, grid.c_mktsegment, grid.n_rows,
                 CAST(COALESCE(cells.c, 0) AS DOUBLE)
                     / CAST(grid.n_rows AS DOUBLE) AS pc,
                 grid.pg
          FROM grid LEFT JOIN cells
            ON grid.c_nationkey = cells.c_nationkey
           AND grid.c_mktsegment = cells.c_mktsegment
           AND grid.sv = cells.sv)
    SELECT c_nationkey, c_mktsegment, n_rows,
           ROUND(0.5 * sum(abs(pc - pg)), 6) AS tv_distance,
           ROUND(0.5 * sum(abs(pc - pg)), 6) > 0.2 AS at_risk
    FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2
""",
    "privacy_generalization": """
    WITH l0 AS (SELECT count(*) AS sz FROM customer
                GROUP BY c_nationkey, c_mktsegment),
    l1 AS (SELECT count(*) AS sz
           FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_regionkey, c_mktsegment),
    l2 AS (SELECT count(*) AS sz FROM customer GROUP BY c_mktsegment),
    l3 AS (SELECT count(*) AS sz FROM customer),
    prof AS (
        SELECT 0 AS level, 'nation+segment' AS label, * FROM l0
        UNION ALL SELECT 1, 'region+segment', * FROM l1
        UNION ALL SELECT 2, 'segment', * FROM l2
        UNION ALL SELECT 3, 'suppressed', * FROM l3)
    SELECT CAST(level AS INT) AS level, label,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(sz) AS BIGINT) AS min_class_size,
           CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)
                AS BIGINT) AS n_at_risk_rows,
           min(sz) >= 5 AS k_ok
    FROM prof GROUP BY 1, 2 ORDER BY 1
""",
    "privacy_dp_counts": f"""
    WITH counts AS (
        SELECT c_mktsegment AS group_key,
               CAST(count(*) AS BIGINT) AS n_true
        FROM customer GROUP BY 1),
    h AS (SELECT group_key, n_true,
                 {hashes.token_hash_sql('group_key')} % 1000000 AS hm
          FROM counts),
    n AS (SELECT group_key, n_true,
                 (CAST(hm AS DOUBLE) + 0.5) / 1000000 - 0.5 AS c
          FROM h)
    SELECT group_key, n_true,
           ROUND(n_true + (-1.0 / 1.0)
                 * sign(c) * ln(1.0 - 2.0 * abs(c)), 4) AS n_released,
           1.0 AS epsilon
    FROM n ORDER BY group_key
""",
}

script(Path(__file__).with_name("privacy.sql"), ORACLES)
