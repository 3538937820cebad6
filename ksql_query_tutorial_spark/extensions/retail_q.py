"""Retail / decision-support extension queries over the TPC-H-shaped
fixtures (orders, lineitem, customer, supplier, part, nation, region):
TPC-H shapes, feature engineering, cohort and reliability analytics, and
the warehouse audits.

Most are Spark SQL in the KSQL dialect, one ``CREATE TABLE`` each in
``retail.sql``, compiled like the tutorial's ``queries.sql``; ``ORACLES``
holds the DuckDB oracle of each, an independent second text of the same
semantics. The script also holds the privacy family's cascade-delete
impact, whose operator sat with these. Two queries keep Python builders,
because their operators serve other families too: ``lineitem_elasticity``
(``ols_regression``) and ``orders_key_skew`` (``key_skew_report``).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ksql_query_tutorial_spark.tables import load

from ._registry import query, script
from ._shared import *  # noqa: F401,F403 — shared constants/SQL fragments

PROFILE_COLUMNS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)


def _profile_branch(col: str, render: str) -> str:
    return f"""
    SELECT '{col}' AS "column",
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({col}) AS BIGINT) AS n_null,
           CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
           {render.format(agg=f"min({col})")} AS min_value,
           {render.format(agg=f"max({col})")} AS max_value
    FROM orders"""


_PROFILE_RENDER = {
    "o_orderkey": "CAST({agg} AS VARCHAR)",
    "o_custkey": "CAST({agg} AS VARCHAR)",
    "o_orderstatus": "{agg}",
    "o_totalprice": "printf('%.6f', {agg})",
    "o_orderdate": "strftime({agg}, '%Y-%m-%d %H:%M:%S')",
    "o_orderpriority": "{agg}",
}


CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_oracle_sql(cols: tuple[str, ...]) -> str:
    sums = ["CAST(count(*) AS DOUBLE) AS n"]
    for c in cols:
        sums.append(f"sum({c}) AS s_{c}")
        sums.append(f"sum({c} * {c}) AS q_{c}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        sums.append(f"sum({a} * {b}) AS p_{a}_{b}")
    branches = []
    for a, b in pairs:
        branches.append(f"""
    SELECT '{a}' AS col_x, '{b}' AS col_y,
           ROUND((n * p_{a}_{b} - s_{a} * s_{b})
                 / sqrt((n * q_{a} - s_{a} * s_{a})
                        * (n * q_{b} - s_{b} * s_{b})), 6) AS corr
    FROM w""")
    return (
        "WITH w AS (SELECT " + ", ".join(sums) + " FROM lineitem)"
        + " UNION ALL ".join(branches)
        + " ORDER BY col_x, col_y"
    )


ORACLES = {
    "audit_referential": """
    SELECT 'orders_orphan_custkey' AS check_name, count(*) AS n_violations
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_orphan_orderkey', count(*)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_nonpositive_qty', count(*)
    FROM lineitem WHERE l_quantity <= 0
    UNION ALL
    SELECT 'orders_null_totalprice', count(*)
    FROM orders WHERE o_totalprice IS NULL
    ORDER BY check_name
""",
    "customer_rfm": """
    WITH per AS (SELECT o_custkey AS custkey,
                        max(CAST(o_orderdate AS DATE)) AS last_order,
                        CAST(count(*) AS BIGINT) AS n_orders,
                        ROUND(sum(o_totalprice), 6) AS total_spend
                 FROM orders GROUP BY 1),
    hz AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    wr AS (SELECT custkey,
                  CAST(datediff('day', last_order, (SELECT maxd FROM hz))
                       AS BIGINT) AS recency_days,
                  n_orders, total_spend
           FROM per),
    b AS (SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
                 quantile_cont(n_orders, [0.2, 0.4, 0.6, 0.8]) AS fb,
                 quantile_cont(total_spend, [0.2, 0.4, 0.6, 0.8]) AS mb
          FROM wr),
    sc AS (SELECT custkey, recency_days, n_orders, total_spend,
                  CAST(6 - (1 + CASE WHEN recency_days > rb[1] THEN 1 ELSE 0 END
                              + CASE WHEN recency_days > rb[2] THEN 1 ELSE 0 END
                              + CASE WHEN recency_days > rb[3] THEN 1 ELSE 0 END
                              + CASE WHEN recency_days > rb[4] THEN 1 ELSE 0 END)
                       AS INT) AS r_score,
                  CAST(1 + CASE WHEN n_orders > fb[1] THEN 1 ELSE 0 END
                         + CASE WHEN n_orders > fb[2] THEN 1 ELSE 0 END
                         + CASE WHEN n_orders > fb[3] THEN 1 ELSE 0 END
                         + CASE WHEN n_orders > fb[4] THEN 1 ELSE 0 END
                       AS INT) AS f_score,
                  CAST(1 + CASE WHEN total_spend > mb[1] THEN 1 ELSE 0 END
                         + CASE WHEN total_spend > mb[2] THEN 1 ELSE 0 END
                         + CASE WHEN total_spend > mb[3] THEN 1 ELSE 0 END
                         + CASE WHEN total_spend > mb[4] THEN 1 ELSE 0 END
                       AS INT) AS m_score
           FROM wr, b)
    SELECT custkey, recency_days, n_orders, total_spend,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
    FROM sc ORDER BY custkey
""",
    "orders_basket": """
    WITH basket AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item
                    FROM lineitem),
    n AS (SELECT count(DISTINCT oid) AS c FROM basket),
    ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
           FROM basket GROUP BY 1),
    p AS (SELECT a.item AS item_a, b.item AS item_b,
                 CAST(count(*) AS BIGINT) AS n_orders_pair
          FROM basket a JOIN basket b
            ON a.oid = b.oid AND a.item < b.item
          GROUP BY 1, 2
          HAVING count(*) >= 2)
    SELECT item_a, item_b, n_orders_pair,
           ia.n_item AS n_a, ib.n_item AS n_b,
           ROUND(CAST(n_orders_pair AS DOUBLE) * (SELECT c FROM n)
                 / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)), 6)
             AS lift
    FROM p JOIN ic ia ON item_a = ia.item
           JOIN ic ib ON item_b = ib.item
    ORDER BY item_a, item_b
""",
    "orders_fulfillment": """
    WITH b AS (SELECT l_orderkey AS okey,
                      min(CAST(l_shipdate AS DATE)) AS first_ship,
                      max(CAST(l_shipdate AS DATE)) AS last_ship
               FROM lineitem GROUP BY 1),
    j AS (SELECT CAST(o_orderdate AS DATE) AS odate, first_ship, last_ship
          FROM orders JOIN b ON o_orderkey = okey)
    SELECT CAST(date_trunc('month', odate) AS DATE) AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(avg(datediff('day', odate, first_ship)), 6)
             AS avg_days_first_ship,
           ROUND(avg(datediff('day', odate, last_ship)), 6)
             AS avg_days_last_ship,
           CAST(max(datediff('day', odate, last_ship)) AS BIGINT)
             AS max_days_last_ship
    FROM j GROUP BY 1 ORDER BY 1
""",
    "orders_top_customers": """
    WITH rev AS (SELECT o_custkey AS custkey,
                        ROUND(sum(o_totalprice), 6) AS revenue,
                        count(*) AS n_orders
                 FROM orders GROUP BY 1),
    j AS (SELECT n.n_name AS nation, r.custkey, c.c_name, r.revenue,
                 r.n_orders
          FROM rev r
          JOIN customer c ON c.c_custkey = r.custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey),
    rk AS (SELECT *, row_number() OVER (PARTITION BY nation
                       ORDER BY revenue DESC, custkey) AS rank
           FROM j)
    SELECT nation, CAST(rank AS BIGINT) AS rank, custkey, c_name,
           revenue, CAST(n_orders AS BIGINT) AS n_orders
    FROM rk WHERE rank <= 3 ORDER BY nation, rank
""",
    "orders_pareto": """
    WITH rev AS (SELECT o_custkey AS custkey,
                        ROUND(sum(o_totalprice), 6) AS revenue
                 FROM orders GROUP BY 1),
    geo AS (SELECT c.c_custkey AS custkey, rg.r_name AS region
            FROM customer c
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            JOIN region rg ON rg.r_regionkey = n.n_regionkey),
    pc AS (SELECT g.region, r.revenue, r.custkey
           FROM rev r JOIN geo g USING (custkey)),
    rkd AS (SELECT region, revenue,
                   row_number() OVER (PARTITION BY region
                     ORDER BY revenue DESC, custkey) AS rnk,
                   sum(revenue) OVER (PARTITION BY region
                     ORDER BY revenue DESC, custkey
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM pc),
    st AS (SELECT region, max(cum) AS total, count(*) AS n_customers
           FROM rkd GROUP BY 1),
    agg AS (SELECT r.region, s.n_customers, s.total,
                   max(CASE WHEN r.rnk = (s.n_customers + 9) // 10
                       THEN r.cum END) AS top_rev,
                   sum(CASE WHEN r.cum - r.revenue < 0.8 * s.total
                       THEN 1 ELSE 0 END) AS n80
            FROM rkd r JOIN st s USING (region) GROUP BY 1, 2, 3)
    SELECT region, CAST(n_customers AS BIGINT) AS n_customers,
           ROUND(total, 6) AS total_revenue,
           ROUND(top_rev / total, 6) AS top_decile_share,
           CAST(n80 AS BIGINT) AS n_for_80pct,
           ROUND(CAST(n80 AS DOUBLE) / n_customers, 6) AS pct_for_80pct
    FROM agg ORDER BY region
""",
    "lineitem_pricing_summary": """
    SELECT l_returnflag, l_linestatus,
           ROUND(sum(l_quantity), 4) AS sum_qty,
           ROUND(sum(l_extendedprice), 4) AS sum_base_price,
           ROUND(sum(l_extendedprice * (1.0 - l_discount)), 4)
             AS sum_disc_price,
           ROUND(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4)
             AS sum_charge,
           ROUND(avg(l_quantity), 6) AS avg_qty,
           ROUND(avg(l_extendedprice), 6) AS avg_price,
           ROUND(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY 1, 2 ORDER BY 1, 2
""",
    "profile_orders": " UNION ALL ".join(
    _profile_branch(c, _PROFILE_RENDER[c]) for c in PROFILE_COLUMNS
) + ' ORDER BY "column"',
    "orders_shipping_priority": """
    SELECT l_orderkey,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
""",
    "orders_count_distribution": """
    WITH per AS (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN (
            SELECT o_custkey, o_orderkey FROM orders
            WHERE o_orderpriority <> '5-LOW'
        ) o ON c_custkey = o.o_custkey
        GROUP BY c_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
""",
    "lineitem_revenue_delta": """
    SELECT ROUND(sum(l_extendedprice * l_discount), 4) AS revenue_delta,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24.0
""",
    "orders_winsorized": """
    WITH b AS (SELECT o_orderpriority AS grp,
                      quantile_cont(o_totalprice, 0.01) AS p_lo,
                      quantile_cont(o_totalprice, 0.99) AS p_hi
               FROM orders GROUP BY 1),
    c AS (SELECT o.o_orderpriority AS grp, o.o_totalprice AS amt,
                 b.p_lo, b.p_hi,
                 GREATEST(LEAST(o.o_totalprice, b.p_hi), b.p_lo) AS wamt
          FROM orders o JOIN b ON o.o_orderpriority = b.grp)
    SELECT grp AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(min(p_lo), 6) AS p_lo,
           ROUND(min(p_hi), 6) AS p_hi,
           ROUND(avg(amt), 6) AS mean_raw,
           ROUND(avg(wamt), 6) AS mean_winsorized,
           CAST(sum(CASE WHEN amt <> wamt THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped
    FROM c GROUP BY grp ORDER BY grp
""",
    "lineitem_correlations": _corr_oracle_sql(CORR_COLS),
    "orders_cohort_ltv": """
    WITH m AS (SELECT o_custkey, o_totalprice,
                      CAST(date_trunc('month', o_orderdate) AS DATE) AS mon
               FROM orders),
    first AS (SELECT o_custkey AS c, min(mon) AS cohort_month
              FROM m GROUP BY 1),
    sz AS (SELECT cohort_month, count(DISTINCT c) AS cohort_n
           FROM first GROUP BY 1),
    cells AS (SELECT f.cohort_month,
                     CAST(datediff('month', f.cohort_month, m.mon)
                          AS INT) AS month_offset,
                     CAST(count(DISTINCT m.o_custkey) AS BIGINT)
                       AS n_customers,
                     sum(m.o_totalprice) AS rev
              FROM m JOIN first f ON m.o_custkey = f.c
              GROUP BY 1, 2)
    SELECT c.cohort_month, c.month_offset, c.n_customers,
           ROUND(c.rev, 6) AS revenue,
           ROUND(sum(c.rev) OVER (PARTITION BY c.cohort_month
                                  ORDER BY c.month_offset
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
                 / s.cohort_n, 6) AS cum_revenue_per_customer
    FROM cells c JOIN sz s ON c.cohort_month = s.cohort_month
    ORDER BY c.cohort_month, c.month_offset
""",
    "orders_returned_revenue": """
    WITH per AS (
        SELECT o_custkey,
               ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               CAST(count(*) AS BIGINT) AS n_return_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-04-01'
        GROUP BY 1)
    SELECT c_custkey AS custkey, c_name, n_name AS nation,
           revenue, n_return_items
    FROM per
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    ORDER BY revenue DESC, custkey
    LIMIT 20
""",
    "orders_large_volume": """
    WITH big AS (
        SELECT l_orderkey, ROUND(sum(l_quantity), 6) AS total_qty
        FROM lineitem GROUP BY 1
        HAVING ROUND(sum(l_quantity), 6) > 250.0)
    SELECT c_custkey AS custkey, c_name, o_orderkey AS orderkey,
           o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY total_qty DESC, orderkey
""",
    "orders_backlog": """
    WITH span AS (SELECT l_orderkey,
                         max(CAST(l_shipdate AS DATE)) AS last_ship
                  FROM lineitem GROUP BY 1),
    iv AS (SELECT o_orderpriority AS priority,
                  CAST(o_orderdate AS DATE) AS start_day, last_ship
           FROM orders JOIN span ON o_orderkey = l_orderkey),
    deltas AS (SELECT priority, start_day AS day, 1 AS delta FROM iv
               UNION ALL
               SELECT priority, last_ship + 1, -1 FROM iv),
    cells AS (SELECT priority, day,
                     CAST(sum(delta) AS BIGINT) AS delta_net
              FROM deltas GROUP BY 1, 2)
    SELECT priority, day, delta_net,
           CAST(sum(delta_net) OVER (PARTITION BY priority ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS open_orders
    FROM cells ORDER BY priority, day
""",
    "orders_equidepth_bins": """
    WITH pre AS (
        SELECT o_orderpriority AS priority,
               CAST(floor(o_totalprice / 5000.0) AS BIGINT) AS pb,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2),
    cdf AS (
        SELECT priority, pb,
               sum(n) OVER (PARTITION BY priority ORDER BY pb
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               sum(n) OVER (PARTITION BY priority) AS total
        FROM pre),
    bounds AS (
        SELECT priority,
               min(CASE WHEN cum >= 0.25 * total THEN pb END) AS b1,
               min(CASE WHEN cum >= 0.5 * total THEN pb END) AS b2,
               min(CASE WHEN cum >= 0.75 * total THEN pb END) AS b3
        FROM cdf GROUP BY 1)
    SELECT o_orderpriority AS priority,
           (CAST(floor(o_totalprice / 5000.0) AS BIGINT) > b1)::INT
           + (CAST(floor(o_totalprice / 5000.0) AS BIGINT) > b2)::INT
           + (CAST(floor(o_totalprice / 5000.0) AS BIGINT) > b3)::INT
             AS bin,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(min(o_totalprice), 4) AS min_price,
           ROUND(max(o_totalprice), 4) AS max_price
    FROM orders JOIN bounds ON o_orderpriority = priority
    GROUP BY 1, 2 ORDER BY 1, 2
""",
    "customer_spend_ranks": """
    WITH spend AS (SELECT o_custkey,
                          ROUND(sum(o_totalprice), 4) AS spend,
                          CAST(count(*) AS BIGINT) AS n_orders
                   FROM orders GROUP BY 1)
    SELECT c_mktsegment AS segment, c_custkey AS custkey, spend, n_orders,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS dense_rnk,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume
    FROM spend JOIN customer ON o_custkey = c_custkey
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY spend DESC, c_custkey)
    ORDER BY segment, rnk
""",
    "audit_benford": """
    WITH c AS (
        SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                   AS VARCHAR), 1, 1) AS INTEGER) AS digit,
               CAST(count(*) AS BIGINT) AS n
        FROM orders WHERE o_totalprice > 0 GROUP BY 1)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS observed_share,
           ROUND(log10(1 + 1 / CAST(digit AS DOUBLE)), 6) AS benford_share,
           ROUND(CAST(n AS DOUBLE) / sum(n) OVER ()
                 - log10(1 + 1 / CAST(digit AS DOUBLE)), 6) AS deviation
    FROM c ORDER BY digit
""",
    "supplier_top_revenue": """
    WITH rev AS (
        SELECT l_suppkey,
               ROUND(sum(l_extendedprice * (1 - l_discount)), 4)
                 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY 1)
    SELECT s_suppkey AS suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY suppkey
""",
    "customer_rich_inactive": """
    WITH thr AS (
        SELECT ROUND(avg(c_acctbal), 4) AS avg_bal
        FROM customer WHERE c_acctbal > 0)
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           ROUND(sum(c_acctbal), 4) AS total_acctbal
    FROM customer, thr
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY 1 ORDER BY 1
""",
    "part_promo_share": """
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           ROUND(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END), 4) AS promo_revenue,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4)
             AS total_revenue,
           ROUND(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1 ORDER BY 1
""",
    "nation_trade_flows": """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(extract(year FROM l_shipdate) AS BIGINT) AS ship_year,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
""",
    "part_band_revenue": """
    SELECT band,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM (
        SELECT CASE
             WHEN p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1.0 AND 21.0 THEN 'Brand#12'
             WHEN p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10.0 AND 30.0 THEN 'Brand#23'
             WHEN p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20.0 AND 40.0 THEN 'Brand#34'
           END AS band,
               l_extendedprice, l_discount
        FROM lineitem JOIN part ON l_partkey = p_partkey) t
    WHERE band IS NOT NULL
    GROUP BY 1 ORDER BY 1
""",
    "orders_priority_check": """
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate
                        + INTERVAL 60 DAY)
    GROUP BY 1 ORDER BY 1
""",
    "nation_local_volume": """
    SELECT n_name AS nation,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1 ORDER BY revenue DESC, nation
""",
    "nation_market_share": """
    SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
           ROUND(sum(CASE WHEN sn.n_name = 'NATION_7'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END), 4) AS target_revenue,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4)
             AS total_revenue,
           ROUND(sum(CASE WHEN sn.n_name = 'NATION_7'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    WHERE p_type = 'PROMO' AND r_name = 'ASIA'
    GROUP BY 1 ORDER BY 1
""",
    "supplier_profit": """
    SELECT n_name AS nation,
           CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
           ROUND(sum(l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity), 4) AS profit,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2 ORDER BY 1, 2
""",
    "orders_ship_lag": """
    SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
                THEN '1_under_30d'
                WHEN date_diff('day', o_orderdate, l_shipdate) <= 90
                THEN '2_under_90d'
                ELSE '3_over_90d' END AS lag_band,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS high_priority_lines,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT)
             AS low_priority_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1 ORDER BY 1
""",
    "part_small_lots": """
    WITH thr AS (
        SELECT l_partkey AS pk, ROUND(avg(l_quantity), 4) AS avg_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#23'
        GROUP BY 1)
    SELECT ROUND(sum(l_extendedprice) / 52.0, 4) AS weekly_revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN thr ON l_partkey = pk
    WHERE p_brand = 'Brand#23'
      AND l_quantity < 0.5 * avg_qty
""",
    "supplier_sole_late": """
    SELECT s_name,
           CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o ON l1.l_orderkey = o.o_orderkey
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate
                            + INTERVAL 90 DAY)
    GROUP BY 1 ORDER BY numwait DESC, s_name
""",
    "part_min_cost_supplier": """
    WITH sup_r AS (
        SELECT s_suppkey, s_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'),
    offers AS (
        SELECT l_partkey AS partkey, s_name,
               ROUND(CAST(sum(CAST(floor(l_extendedprice / l_quantity
                                          * 10000 + 0.5) AS BIGINT))
                          AS DOUBLE)
                     / (CAST(count(*) AS DOUBLE) * 10000), 6) AS unit_price
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN sup_r ON l_suppkey = s_suppkey
        WHERE p_type = 'LARGE'
        GROUP BY 1, 2)
    SELECT partkey, s_name, unit_price
    FROM offers o
    WHERE unit_price = (SELECT min(unit_price) FROM offers o2
                        WHERE o2.partkey = o.partkey)
    ORDER BY partkey, s_name
""",
    "supplier_part_counts": """
    SELECT p_brand,
           CAST(CAST(floor(p_size / 10) * 10 AS BIGINT) AS INT)
             AS size_band,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type <> 'PROMO'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY 1, 2 ORDER BY 1, 2
""",
    "orders_reorder_intervals": """
    WITH g AS (
        SELECT date_diff('day',
                   lag(CAST(o_orderdate AS DATE)) OVER
                       (PARTITION BY o_custkey
                        ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
                   CAST(o_orderdate AS DATE)) AS gap
        FROM orders),
    f AS (SELECT gap FROM g WHERE gap IS NOT NULL)
    SELECT CASE WHEN gap <= 7 THEN '1_under_7d'
                WHEN gap <= 30 THEN '2_under_30d'
                WHEN gap <= 90 THEN '3_under_90d'
                ELSE '4_over_90d' END AS gap_bucket,
           CAST(count(*) AS BIGINT) AS n_gaps,
           ROUND(CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
             AS avg_gap_days
    FROM f GROUP BY 1 ORDER BY 1
""",
    "supplier_dominant_parts": """
    WITH cells AS (
        SELECT l_partkey AS pk, l_suppkey AS sk, sum(l_quantity) AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%red%'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2),
    dom AS (
        SELECT sk, CAST(count(DISTINCT pk) AS BIGINT) AS n_dominated_parts
        FROM cells c
        WHERE qty > 0.5 * (SELECT sum(qty) FROM cells c2
                                   WHERE c2.pk = c.pk)
        GROUP BY 1)
    SELECT s_suppkey, s_name, n_dominated_parts
    FROM supplier JOIN dom ON s_suppkey = sk
    ORDER BY s_suppkey
""",
    "lineitem_yoy_growth": """
    WITH cells AS (
        SELECT CAST(extract(year FROM l_shipdate) AS BIGINT) AS ship_year,
               CAST(extract(month FROM l_shipdate) AS BIGINT) AS ship_month,
               ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem GROUP BY 1, 2),
    lagged AS (
        SELECT ship_year, ship_month, revenue,
               lag(revenue) OVER (PARTITION BY ship_month
                                  ORDER BY ship_year) AS prev,
               lag(ship_year) OVER (PARTITION BY ship_month
                                    ORDER BY ship_year) AS prev_yr
        FROM cells)
    SELECT ship_year, ship_month, revenue,
           CASE WHEN prev_yr = ship_year - 1 THEN prev END
             AS prev_year_revenue,
           ROUND(100.0 * (revenue - CASE WHEN prev_yr = ship_year - 1
                                         THEN prev END)
                 / CASE WHEN prev_yr = ship_year - 1 THEN prev END, 4)
             AS yoy_pct
    FROM lagged ORDER BY ship_year, ship_month
""",
    "nation_rank_movers": """
    WITH wide AS (
        SELECT n_name AS nation,
               ROUND(sum(CASE WHEN extract(year FROM o_orderdate)
                                   = 1996
                              THEN o_totalprice END), 4) AS revenue_a,
               ROUND(sum(CASE WHEN extract(year FROM o_orderdate)
                                   = 1997
                              THEN o_totalprice END), 4) AS revenue_b
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
        HAVING revenue_a IS NOT NULL AND revenue_b IS NOT NULL)
    SELECT nation,
           CAST(row_number() OVER (ORDER BY revenue_a DESC, nation)
                AS BIGINT) AS rank_a,
           CAST(row_number() OVER (ORDER BY revenue_b DESC, nation)
                AS BIGINT) AS rank_b,
           CAST(row_number() OVER (ORDER BY revenue_a DESC, nation)
                - row_number() OVER (ORDER BY revenue_b DESC, nation)
                AS BIGINT) AS rank_change,
           revenue_a, revenue_b
    FROM wide ORDER BY rank_b, nation
""",
    "supplier_lead_time": """
    WITH cells AS (
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(date_diff('day', o_orderdate, l_shipdate))
                    AS BIGINT) AS s1,
               CAST(sum(date_diff('day', o_orderdate, l_shipdate)
                        * date_diff('day', o_orderdate, l_shipdate))
                    AS BIGINT) AS s2
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1)
    SELECT s_suppkey, s_name, n_lines,
           ROUND(CAST(s1 AS DOUBLE) / CAST(n_lines AS DOUBLE), 4)
             AS avg_lag_days,
           CASE WHEN n_lines > 1 THEN
               ROUND(sqrt((CAST(n_lines AS DOUBLE) * CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                          / (CAST(n_lines AS DOUBLE)
                             * (CAST(n_lines AS DOUBLE) - 1))), 4)
           END AS stddev_lag_days
    FROM cells JOIN supplier ON l_suppkey = s_suppkey
    ORDER BY s_suppkey
""",
    "nation_revenue_hhi": """
    WITH cells AS (
        SELECT n_name AS nation, c_custkey,
               ROUND(sum(o_totalprice), 4) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2)
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_customers,
           ROUND(sum(rev), 4) AS total_revenue,
           ROUND(sum(rev * rev) / (sum(rev) * sum(rev)), 6) AS hhi,
           ROUND(max(rev) / sum(rev), 6) AS top_share
    FROM cells GROUP BY 1 ORDER BY 1
""",
    "customer_survival": """
    WITH g AS (
        SELECT o_custkey,
               CAST(date_diff('day', o_orderdate,
                    COALESCE(lead(o_orderdate) OVER
                        (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey),
                        (SELECT max(o_orderdate) FROM orders)))
                    AS BIGINT) AS gap_days,
               CASE WHEN lead(o_orderdate) OVER
                        (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) IS NULL
                    THEN 0 ELSE 1 END AS ev
        FROM orders),
    cells AS (
        SELECT c_mktsegment AS mktsegment, gap_days,
               CAST(sum(ev) AS BIGINT) AS n_events,
               CAST(sum(1 - ev) AS BIGINT) AS n_censored
        FROM g JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
    staged AS (
        SELECT *,
               CAST(sum(n_events + n_censored) OVER
                        (PARTITION BY mktsegment)
                    - COALESCE(sum(n_events + n_censored) OVER
                        (PARTITION BY mktsegment ORDER BY gap_days
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_at_risk
        FROM cells),
    curved AS (
        SELECT *,
               sum(CASE WHEN n_events = 0 THEN 0.0
                        WHEN n_events < n_at_risk
                            THEN ln(1.0 - CAST(n_events AS DOUBLE)
                                        / CAST(n_at_risk AS DOUBLE))
                        ELSE 0.0 END) OVER
                   (PARTITION BY mktsegment ORDER BY gap_days
                    ROWS UNBOUNDED PRECEDING) AS lns,
               sum(CASE WHEN n_events > 0 AND n_events >= n_at_risk
                        THEN 1 ELSE 0 END) OVER
                   (PARTITION BY mktsegment ORDER BY gap_days
                    ROWS UNBOUNDED PRECEDING) AS dead
        FROM staged)
    SELECT mktsegment, gap_days, n_at_risk, n_events, n_censored,
           ROUND(CASE WHEN dead > 0 THEN 0.0 ELSE exp(lns) END, 6)
               AS survival
    FROM curved WHERE n_events > 0 ORDER BY 1, 2
""",
    "supplier_single_source": """
    WITH ps AS (SELECT l_partkey, l_suppkey,
                       ROUND(sum(l_extendedprice * (1.0 - l_discount)), 4)
                           AS rev
                FROM lineitem GROUP BY 1, 2),
    parts AS (SELECT l_partkey, count(*) AS n_supp,
                     max(l_suppkey) AS solo_supp,
                     sum(rev) AS part_rev
              FROM ps GROUP BY 1),
    solo AS (SELECT * FROM parts WHERE n_supp = 1)
    SELECT n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_single_source_parts,
           ROUND(sum(part_rev), 4) AS revenue_at_risk
    FROM solo
    JOIN supplier ON solo_supp = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1 ORDER BY 1
""",
    "part_price_dispersion": """
    WITH m AS (SELECT p_type,
                      CAST(count(*) AS BIGINT) AS n_lines,
                      sum(l_extendedprice / l_quantity) AS s1,
                      sum((l_extendedprice / l_quantity)
                          * (l_extendedprice / l_quantity)) AS s2
               FROM lineitem JOIN part ON l_partkey = p_partkey
               GROUP BY 1)
    SELECT p_type, n_lines,
           ROUND(s1 / n_lines, 6) AS mean_unit_price,
           ROUND(sqrt(greatest(s2 / n_lines
                               - (s1 / n_lines) * (s1 / n_lines), 0.0))
                 / (s1 / n_lines), 6) AS cv
    FROM m ORDER BY p_type
""",
    "supplier_on_time_wilson": """
    WITH j AS (SELECT l_suppkey,
                      CASE WHEN date_diff('day', o_orderdate::DATE,
                                          l_shipdate::DATE)
                                <= 45
                           THEN 1 ELSE 0 END AS ot
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    per AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(ot) AS BIGINT) AS n_ontime
            FROM j GROUP BY 1),
    calc AS (SELECT *,
                    CAST(n_ontime AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p,
                    CAST(n_lines AS DOUBLE) AS n
             FROM per)
    SELECT s_suppkey, s_name, n_lines, n_ontime,
           ROUND(p, 6) AS rate,
           ROUND((p + 3.8414588206941254 / (2.0 * n)
                  - 1.959963984540054 * sqrt(p * (1.0 - p) / n
                                   + 3.8414588206941254 / (4.0 * n * n)))
                 / (1.0 + 3.8414588206941254 / n), 6) AS wilson_lb
    FROM calc JOIN supplier ON l_suppkey = s_suppkey
    ORDER BY s_suppkey
""",
    "lineitem_weibull_delay": """
    WITH lags AS (
        SELECT datediff('day', o_orderdate, l_shipdate) AS lag
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE datediff('day', o_orderdate, l_shipdate) >= 1),
    per AS (SELECT lag, CAST(count(*) AS BIGINT) AS cnt
            FROM lags GROUP BY 1),
    c AS (SELECT lag, cnt,
                 SUM(cnt) OVER (ORDER BY lag
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum,
                 SUM(cnt) OVER () AS n
          FROM per),
    p AS (SELECT CAST(cnt AS DOUBLE) AS w,
                 ln(CAST(lag AS DOUBLE)) AS x,
                 ln(-ln(1.0 - CAST(cum AS DOUBLE)
                              / (CAST(n AS DOUBLE) + 1))) AS y,
                 cnt, n
          FROM c),
    m AS (SELECT CAST(MAX(n) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS n_lags,
                 SUM(w) AS sw, SUM(w * x) AS sx, SUM(w * y) AS sy,
                 SUM(w * x * x) AS sxx, SUM(w * y * y) AS syy,
                 SUM(w * x * y) AS sxy
          FROM p),
    d AS (SELECT *,
                 sxy - sx * sy / sw AS cov,
                 sxx - sx * sx / sw AS varx,
                 syy - sy * sy / sw AS vary_
          FROM m)
    SELECT n, n_lags,
           ROUND(cov / varx, 6) AS shape_k,
           ROUND(exp(-((sy - (cov / varx) * sx) / sw)
                     / (cov / varx)), 6) AS scale_lambda,
           ROUND(exp(-((sy - (cov / varx) * sx) / sw) / (cov / varx))
                 * pow(ln(2.0), varx / cov), 6) AS median_days,
           ROUND(cov * cov / (varx * vary_), 6) AS r2
    FROM d
""",
    "privacy_delete_impact": """
    WITH tomb AS (
        SELECT c_custkey FROM customer
        WHERE c_custkey % 50 = 0),
    o AS (SELECT * FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM tomb))
    SELECT 'customer' AS entity,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(NULL AS DOUBLE) AS erased_value
    FROM tomb
    UNION ALL
    SELECT 'lineitem', CAST(count(*) AS BIGINT),
           ROUND(sum(l_extendedprice), 4)
    FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM o)
    UNION ALL
    SELECT 'orders', CAST(count(*) AS BIGINT),
           ROUND(sum(o_totalprice), 4)
    FROM o
    ORDER BY 1
""",
}

script(Path(__file__).with_name("retail.sql"), ORACLES)


@query(oracle=f"""
    WITH pts AS (SELECT l_returnflag AS g,
                        l_discount AS x, l_quantity AS y
                 FROM lineitem),
    {_ols_tail_sql("l_returnflag")}
""")
def lineitem_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS fit of quantity on discount (slope,
    intercept, R²). See analytics.ols_regression."""
    from ksql_query_tutorial_spark.operators.analytics import ols_regression

    li = load(spark, sf_dir, "lineitem")
    return ols_regression(
        li, x_col="l_discount", y_col="l_quantity", group_col="l_returnflag"
    )


@query(oracle="""
    WITH c AS (SELECT l_orderkey, count(*) AS cnt
               FROM lineitem GROUP BY 1),
    t AS (SELECT sum(cnt) AS total FROM c)
    SELECT CAST(length(bin(cnt)) AS INT) AS freq_bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           ROUND(CAST(sum(cnt) AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS rows_share
    FROM c, t
    GROUP BY 1, total ORDER BY 1
""")
def orders_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew histogram over the lineitem order key.
    See skew.key_skew_report."""
    from ksql_query_tutorial_spark.operators.skew import key_skew_report

    return key_skew_report(load(spark, sf_dir, "lineitem"), "l_orderkey")
