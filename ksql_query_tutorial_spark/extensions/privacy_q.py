"""Privacy extension queries (k-anonymity, l-diversity, t-closeness, DP counts, generalization ladder).

Split from the former extensions.py monolith (pure move; VERDICT r6 #3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.functions import hashes
from ksql_query_tutorial_spark.tables import load

from ._registry import query
from ._shared import *  # noqa: F401,F403 — shared constants/SQL fragments


KANON_K = 5


KANON_QUASI = ("c_nationkey", "c_mktsegment")


@query(oracle=f"""
    WITH c AS (SELECT c_nationkey, c_mktsegment, count(*) AS sz
               FROM customer GROUP BY 1, 2)
    SELECT CAST(sz AS BIGINT) AS class_size,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           sz < {KANON_K} AS at_risk
    FROM c GROUP BY sz ORDER BY class_size
""")
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table over the
    (nation, market segment) quasi-identifier tuple. See
    analytics.k_anonymity."""
    from ksql_query_tutorial_spark.operators.analytics import k_anonymity

    c = load(spark, sf_dir, "customer")
    return k_anonymity(c, list(KANON_QUASI), k=KANON_K)


DP_EPSILON = 1.0


@query(oracle=f"""
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
           ROUND(n_true + (-1.0 / {DP_EPSILON})
                 * sign(c) * ln(1.0 - 2.0 * abs(c)), 4) AS n_released,
           {DP_EPSILON} AS epsilon
    FROM n ORDER BY group_key
""")
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism DP count release per market segment.
    See analytics.dp_noisy_counts."""
    from ksql_query_tutorial_spark.operators.analytics import dp_noisy_counts

    return dp_noisy_counts(
        load(spark, sf_dir, "customer"), "c_mktsegment", epsilon=DP_EPSILON
    )


LDIV_L = 3


LDIV_QUASI = ("c_nationkey", "c_mktsegment")


LDIV_SENSITIVE = "o_orderpriority"


@query(oracle=f"""
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
           distinct_l < {LDIV_L} AS at_risk
    FROM g ORDER BY c_nationkey, c_mktsegment
""")
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of order priorities within the customer
    (nation, market segment) quasi-identifier classes — the companion
    to privacy_k_anonymity. See analytics.l_diversity."""
    from ksql_query_tutorial_spark.operators.analytics import l_diversity

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    joined = o.join(
        c, o["o_custkey"] == c["c_custkey"]
    ).select(*LDIV_QUASI, LDIV_SENSITIVE)
    return l_diversity(
        joined, list(LDIV_QUASI), LDIV_SENSITIVE, l_threshold=LDIV_L
    )


GENERALIZATION_K = KANON_K


@query(oracle=f"""
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
           CAST(sum(CASE WHEN sz < {GENERALIZATION_K} THEN sz ELSE 0 END)
                AS BIGINT) AS n_at_risk_rows,
           min(sz) >= {GENERALIZATION_K} AS k_ok
    FROM prof GROUP BY 1, 2 ORDER BY 1
""")
def privacy_generalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder over the customer
    quasi-identifier: (nation, segment) → (region, segment) →
    (segment) → full suppression — all four rungs from ONE customer
    scan via GROUPING SETS (the broadcast nation join supplies the
    region coarsening for every rung). The join is LEFT so a customer
    row with a c_nationkey absent from nation is never dropped from
    the rungs that ignore region (ADVICE r6): such a row lands in a
    null-region class on the region rung only — matching the oracle's
    LEFT JOIN — and counts normally everywhere else. See
    analytics.generalization_ladder_one_pass."""
    from ksql_query_tutorial_spark.operators.analytics import (
        generalization_ladder_one_pass,
    )

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    cr = c.join(
        F.broadcast(n.select("n_nationkey", "n_regionkey")),
        c["c_nationkey"] == F.col("n_nationkey"),
        "left",
    )
    return generalization_ladder_one_pass(
        cr,
        [
            ("nation+segment", ["c_nationkey", "c_mktsegment"]),
            ("region+segment", ["n_regionkey", "c_mktsegment"]),
            ("segment", ["c_mktsegment"]),
            ("suppressed", []),
        ],
        k=GENERALIZATION_K,
    )


TCLOSE_T = 0.2


@query(oracle=f"""
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
           ROUND(0.5 * sum(abs(pc - pg)), 6) > {TCLOSE_T} AS at_risk
    FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2
""")
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit of order priorities within the customer
    (nation, segment) quasi-identifier classes — the third rung of
    the privacy triad. See analytics.t_closeness."""
    from ksql_query_tutorial_spark.operators.analytics import t_closeness

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    joined = o.join(
        c, o["o_custkey"] == c["c_custkey"]
    ).select(*LDIV_QUASI, LDIV_SENSITIVE)
    return t_closeness(
        joined, list(LDIV_QUASI), LDIV_SENSITIVE, t_threshold=TCLOSE_T
    )
