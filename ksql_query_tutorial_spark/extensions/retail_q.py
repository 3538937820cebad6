"""Retail / decision-support extension queries over the TPC-H-shaped fixtures (orders, lineitem, supplier, part, nation, customer, audits, profiling).

Split from the former extensions.py monolith (pure move; VERDICT r6 #3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.tables import load

from ._registry import query
from ._shared import *  # noqa: F401,F403 — shared constants/SQL fragments


@query(oracle="""
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
""")
def audit_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-load data-quality audit: referential (orphan keys via
    anti join) and domain (range / null) violation counts.

    Scan shape (r7 measured-kept): the four checks run as independent
    anti-join/filter aggregations (orders scanned 3×, lineitem 2×,
    all column-pruned). Two one-scan variants both measured WORSE —
    persisting orders 1.56×/2.12× (sf0.1/sf1), fusing orphan+domain
    checks into one left-join scan per table 1.60×/1.71× (STRESS.md
    r7): the independent checks parallelize, the fused shape
    serializes everything behind the widest scan."""
    from ksql_query_tutorial_spark.operators import analytics

    return analytics.audit_constraints(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "lineitem"),
    )


# ----------------------------------------------- retail feature ops

@query(oracle="""
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
""")
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation over orders — boundary-comparison
    scoring (percentile == quantile_cont parity), never an ntile
    global sort. See retail.rfm_segments."""
    from ksql_query_tutorial_spark.operators.retail import rfm_segments

    o = load(spark, sf_dir, "orders")
    return rfm_segments(o)


BASKET_MIN_PAIRS = 2


@query(oracle=f"""
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
          HAVING count(*) >= {BASKET_MIN_PAIRS})
    SELECT item_a, item_b, n_orders_pair,
           ia.n_item AS n_a, ib.n_item AS n_b,
           ROUND(CAST(n_orders_pair AS DOUBLE) * (SELECT c FROM n)
                 / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)), 6)
             AS lift
    FROM p JOIN ic ia ON item_a = ia.item
           JOIN ic ib ON item_b = ib.item
    ORDER BY item_a, item_b
""")
def orders_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase lift over lineitem baskets — the
    retail twin of corpus_cooccurrence. See retail.basket_pairs."""
    from ksql_query_tutorial_spark.operators.retail import basket_pairs

    li = load(spark, sf_dir, "lineitem")
    return basket_pairs(li, min_pair_count=BASKET_MIN_PAIRS)


# ----------------------------------------------- fulfillment cycle times

@query(oracle="""
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
""")
def orders_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month order→ship cycle-time distribution (SLA analytics).
    See retail.fulfillment_cycle."""
    from ksql_query_tutorial_spark.operators.retail import fulfillment_cycle

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return fulfillment_cycle(o, li)


# ------------------------------------------- top-k / pareto analytics

TOPK_N = 3


@query(oracle=f"""
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
    FROM rk WHERE rank <= {TOPK_N} ORDER BY nation, rank
""")
def orders_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by lifetime revenue per nation via hierarchical
    (salted) rank windows — see retail.top_customers_per_nation."""
    from ksql_query_tutorial_spark.operators.retail import (
        top_customers_per_nation,
    )

    return top_customers_per_nation(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
        n=TOPK_N,
    )


@query(oracle="""
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
""")
def orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration report per region (top-decile share, #
    customers covering 80%) — see retail.revenue_pareto."""
    from ksql_query_tutorial_spark.operators.retail import revenue_pareto

    return revenue_pareto(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


# ------------------------------------------- pricing summary (TPC-H Q1)

PRICING_CUTOFF = "2001-09-01"


@query(oracle=f"""
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
    WHERE l_shipdate < TIMESTAMP '{PRICING_CUTOFF} 00:00:00'
    GROUP BY 1, 2 ORDER BY 1, 2
""")
def lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: per (returnflag, linestatus),
    quantity/price/discount/charge rollups over lineitems shipped
    before a fixed cutoff. The OLAP-benchmark staple: ONE exchange
    carrying |flag x status| cells of map-side partials; the shipdate
    filter and the 7-column projection push into the parquet scan
    (plan-pinned). Sums round to 4 (q23 precedent for cross-engine
    double-sum stability), averages to 6."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") < F.lit(PRICING_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ------------------------------------------------- r5: profiling / linkage

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


@query(oracle=" UNION ALL ".join(
    _profile_branch(c, _PROFILE_RENDER[c]) for c in PROFILE_COLUMNS
) + ' ORDER BY "column"')
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of the orders table (row /
    null / distinct counts, typed min-max) — the ingest-audit header.
    See analytics.column_profile."""
    from ksql_query_tutorial_spark.operators.analytics import column_profile

    o = load(spark, sf_dir, "orders")
    return column_profile(o, list(PROFILE_COLUMNS))


Q3_SEGMENT = "BUILDING"


Q3_CUTOFF = "1998-03-15"


Q3_LIMIT = 10


@query(oracle=f"""
    SELECT l_orderkey,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = '{Q3_SEGMENT}'
      AND o_orderdate < TIMESTAMP '{Q3_CUTOFF}'
      AND l_shipdate > TIMESTAMP '{Q3_CUTOFF}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT {Q3_LIMIT}
""")
def orders_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-N unshipped revenue for one market segment.
    See retail.shipping_priority."""
    from ksql_query_tutorial_spark.operators.retail import shipping_priority

    return shipping_priority(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        segment=Q3_SEGMENT,
        cutoff=Q3_CUTOFF,
        limit=Q3_LIMIT,
    )


Q13_EXCLUDE_PRIORITY = "5-LOW"


@query(oracle=f"""
    WITH per AS (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN (
            SELECT o_custkey, o_orderkey FROM orders
            WHERE o_orderpriority <> '{Q13_EXCLUDE_PRIORITY}'
        ) o ON c_custkey = o.o_custkey
        GROUP BY c_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
""")
def orders_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer distribution including the
    zero-order bucket. See retail.order_count_distribution."""
    from ksql_query_tutorial_spark.operators.retail import (
        order_count_distribution,
    )

    return order_count_distribution(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        exclude_priority=Q13_EXCLUDE_PRIORITY,
    )


Q6_DATE_FROM = "1996-01-01"


Q6_DATE_TO = "1997-01-01"


Q6_DISC_LO = 0.05


Q6_DISC_HI = 0.07


Q6_MAX_QTY = 24.0


@query(oracle=f"""
    SELECT ROUND(sum(l_extendedprice * l_discount), 4) AS revenue_delta,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{Q6_DATE_FROM}'
      AND l_shipdate < TIMESTAMP '{Q6_DATE_TO}'
      AND l_discount >= {Q6_DISC_LO} AND l_discount <= {Q6_DISC_HI}
      AND l_quantity < {Q6_MAX_QTY}
""")
def lineitem_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: one-row what-if revenue delta — the pure
    filter-aggregate scan anchor. See retail.revenue_delta."""
    from ksql_query_tutorial_spark.operators.retail import revenue_delta

    return revenue_delta(
        load(spark, sf_dir, "lineitem"),
        date_from=Q6_DATE_FROM,
        date_to=Q6_DATE_TO,
        discount_lo=Q6_DISC_LO,
        discount_hi=Q6_DISC_HI,
        max_quantity=Q6_MAX_QTY,
    )


WINSOR_LO = 0.01


WINSOR_HI = 0.99


@query(oracle=f"""
    WITH b AS (SELECT o_orderpriority AS grp,
                      quantile_cont(o_totalprice, {WINSOR_LO}) AS p_lo,
                      quantile_cont(o_totalprice, {WINSOR_HI}) AS p_hi
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
""")
def orders_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority winsorized order-value statistics (robust means,
    clip counts at group p01/p99). See retail.winsorized_stats."""
    from ksql_query_tutorial_spark.operators.retail import winsorized_stats

    return winsorized_stats(
        load(spark, sf_dir, "orders"), lo_q=WINSOR_LO, hi_q=WINSOR_HI
    )


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


@query(oracle=_corr_oracle_sql(CORR_COLS))
def lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlations between the lineitem numeric columns
    (single-pass sums, closed form). See analytics.column_correlations."""
    from ksql_query_tutorial_spark.operators.analytics import (
        column_correlations,
    )

    li = load(spark, sf_dir, "lineitem")
    return column_correlations(li, CORR_COLS)


@query(oracle="""
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
""")
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: first-order-month cohorts with cumulative
    revenue per member. See retail.cohort_ltv."""
    from ksql_query_tutorial_spark.operators.retail import cohort_ltv

    return cohort_ltv(load(spark, sf_dir, "orders"))


Q10_FROM = "1997-01-01"


Q10_TO = "1997-04-01"


Q10_LIMIT = 20


@query(oracle=f"""
    WITH per AS (
        SELECT o_custkey,
               ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               CAST(count(*) AS BIGINT) AS n_return_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '{Q10_FROM}'
          AND o_orderdate < TIMESTAMP '{Q10_TO}'
        GROUP BY 1)
    SELECT c_custkey AS custkey, c_name, n_name AS nation,
           revenue, n_return_items
    FROM per
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    ORDER BY revenue DESC, custkey
    LIMIT {Q10_LIMIT}
""")
def orders_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top returned-revenue customers in a quarter.
    See retail.returned_revenue_top_customers."""
    from ksql_query_tutorial_spark.operators.retail import (
        returned_revenue_top_customers,
    )

    return returned_revenue_top_customers(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "nation"),
        date_from=Q10_FROM,
        date_to=Q10_TO,
        limit=Q10_LIMIT,
    )


Q18_QTY_THRESHOLD = 250.0


@query(oracle=f"""
    WITH big AS (
        SELECT l_orderkey, ROUND(sum(l_quantity), 6) AS total_qty
        FROM lineitem GROUP BY 1
        HAVING ROUND(sum(l_quantity), 6) > {Q18_QTY_THRESHOLD})
    SELECT c_custkey AS custkey, c_name, o_orderkey AS orderkey,
           o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY total_qty DESC, orderkey
""")
def orders_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-then-join-back heavy-order report.
    See retail.large_volume_orders."""
    from ksql_query_tutorial_spark.operators.retail import large_volume_orders

    return large_volume_orders(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        qty_threshold=Q18_QTY_THRESHOLD,
    )


@query(oracle="""
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
""")
def orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog concurrency per priority per delta day.
    See retail.open_order_backlog."""
    from ksql_query_tutorial_spark.operators.retail import open_order_backlog

    return open_order_backlog(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )


_EQW = 5000.0


@query(oracle=f"""
    WITH pre AS (
        SELECT o_orderpriority AS priority,
               CAST(floor(o_totalprice / {_EQW}) AS BIGINT) AS pb,
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
           (CAST(floor(o_totalprice / {_EQW}) AS BIGINT) > b1)::INT
           + (CAST(floor(o_totalprice / {_EQW}) AS BIGINT) > b2)::INT
           + (CAST(floor(o_totalprice / {_EQW}) AS BIGINT) > b3)::INT
             AS bin,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(min(o_totalprice), 4) AS min_price,
           ROUND(max(o_totalprice), 4) AS max_price
    FROM orders JOIN bounds ON o_orderpriority = priority
    GROUP BY 1, 2 ORDER BY 1, 2
""")
def orders_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth price quartile bins per priority via bounded
    pre-bin CDF. See retail.equidepth_price_bins."""
    from ksql_query_tutorial_spark.operators.retail import equidepth_price_bins

    return equidepth_price_bins(load(spark, sf_dir, "orders"))


@query(oracle="""
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
""")
def customer_spend_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment spend ranking suite (rank/dense_rank/percent_rank/
    cume_dist in one keyed window). See retail.customer_spend_ranks."""
    from ksql_query_tutorial_spark.operators.retail import (
        customer_spend_ranks as op,
    )

    return op(
        load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders")
    )


@query(oracle="""
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
""")
def audit_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order values.
    See analytics.benford_audit."""
    from ksql_query_tutorial_spark.operators.analytics import benford_audit

    return benford_audit(load(spark, sf_dir, "orders"))


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


Q15_FROM = "1997-01-01"


Q15_TO = "1997-04-01"


@query(oracle=f"""
    WITH rev AS (
        SELECT l_suppkey,
               ROUND(sum(l_extendedprice * (1 - l_discount)), 4)
                 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{Q15_FROM}'
          AND l_shipdate < TIMESTAMP '{Q15_TO}'
        GROUP BY 1)
    SELECT s_suppkey AS suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY suppkey
""")
def supplier_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: tie-safe max-revenue supplier(s) in a quarter.
    See retail.top_revenue_suppliers."""
    from ksql_query_tutorial_spark.operators.retail import top_revenue_suppliers

    return top_revenue_suppliers(
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "lineitem"),
        date_from=Q15_FROM,
        date_to=Q15_TO,
    )


Q22_SINCE = "1999-01-01"


@query(oracle=f"""
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
                        AND o_orderdate >= TIMESTAMP '{Q22_SINCE}')
    GROUP BY 1 ORDER BY 1
""")
def customer_rich_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no order
    since the cutoff, rolled up per segment.
    See retail.rich_inactive_customers."""
    from ksql_query_tutorial_spark.operators.retail import (
        rich_inactive_customers,
    )

    return rich_inactive_customers(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        since=Q22_SINCE,
    )


@query(oracle="""
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
""")
def part_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly promotional-revenue share.
    See retail.promo_revenue_share."""
    from ksql_query_tutorial_spark.operators.retail import promo_revenue_share

    return promo_revenue_share(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "lineitem"),
    )


Q7_FROM = "1996-01-01"


Q7_TO = "1998-01-01"


@query(oracle=f"""
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
    WHERE l_shipdate >= TIMESTAMP '{Q7_FROM}'
      AND l_shipdate < TIMESTAMP '{Q7_TO}'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
""")
def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: supplier-nation → customer-nation revenue per
    ship year. See retail.nation_trade_flows."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.nation_trade_flows(
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "nation"),
        date_from=Q7_FROM,
        date_to=Q7_TO,
    )


def _band_case_sql() -> str:
    from ksql_query_tutorial_spark.operators.retail import DISJUNCTIVE_BANDS

    whens = "\n".join(
        f"             WHEN p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
        f" AND l_quantity BETWEEN {qlo} AND {qhi} THEN '{b}'"
        for b, slo, shi, qlo, qhi in DISJUNCTIVE_BANDS
    )
    return f"CASE\n{whens}\n           END"


@query(oracle=f"""
    SELECT band,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM (
        SELECT {_band_case_sql()} AS band,
               l_extendedprice, l_discount
        FROM lineitem JOIN part ON l_partkey = p_partkey) t
    WHERE band IS NOT NULL
    GROUP BY 1 ORDER BY 1
""")
def part_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs banded revenue.
    See retail.disjunctive_band_revenue."""
    from ksql_query_tutorial_spark.operators.retail import (
        disjunctive_band_revenue,
    )

    return disjunctive_band_revenue(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "lineitem"),
    )


Q4_FROM = "1997-01-01"


Q4_TO = "1997-04-01"


Q4_LAG_DAYS = 60


@query(oracle=f"""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{Q4_FROM}'
      AND o_orderdate < TIMESTAMP '{Q4_TO}'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate
                        + INTERVAL {Q4_LAG_DAYS} DAY)
    GROUP BY 1 ORDER BY 1
""")
def orders_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: SLA-breach order counts per priority.
    See retail.order_priority_check."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.order_priority_check(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        date_from=Q4_FROM,
        date_to=Q4_TO,
        lag_days=Q4_LAG_DAYS,
    )


Q5_REGION = "ASIA"


Q5_FROM = "1996-01-01"


Q5_TO = "1997-01-01"


@query(oracle=f"""
    SELECT n_name AS nation,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = '{Q5_REGION}'
      AND o_orderdate >= TIMESTAMP '{Q5_FROM}'
      AND o_orderdate < TIMESTAMP '{Q5_TO}'
    GROUP BY 1 ORDER BY revenue DESC, nation
""")
def nation_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: same-nation supplier revenue per nation of one
    region. See retail.local_supplier_volume."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.local_supplier_volume(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
        region_name=Q5_REGION,
        date_from=Q5_FROM,
        date_to=Q5_TO,
    )


Q8_NATION = "NATION_7"


Q8_REGION = "ASIA"


Q8_TYPE = "PROMO"


@query(oracle=f"""
    SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
           ROUND(sum(CASE WHEN sn.n_name = '{Q8_NATION}'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END), 4) AS target_revenue,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4)
             AS total_revenue,
           ROUND(sum(CASE WHEN sn.n_name = '{Q8_NATION}'
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
    WHERE p_type = '{Q8_TYPE}' AND r_name = '{Q8_REGION}'
    GROUP BY 1 ORDER BY 1
""")
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: target nation's supply share of one region's
    part-type revenue per order year.
    See retail.national_market_share."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.national_market_share(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
        load(spark, sf_dir, "part"),
        target_nation=Q8_NATION,
        region_name=Q8_REGION,
        part_type=Q8_TYPE,
    )


Q9_TOKEN = "red"


@query(oracle=f"""
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
    WHERE p_name LIKE '%{Q9_TOKEN}%'
    GROUP BY 1, 2 ORDER BY 1, 2
""")
def supplier_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation per-year profit on token-named
    parts. See retail.supplier_nation_profit."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.supplier_nation_profit(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "part"),
        name_token=Q9_TOKEN,
    )


Q12_FROM = "1996-01-01"


Q12_TO = "1998-01-01"


@query(oracle=f"""
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
    WHERE l_shipdate >= TIMESTAMP '{Q12_FROM}'
      AND l_shipdate < TIMESTAMP '{Q12_TO}'
    GROUP BY 1 ORDER BY 1
""")
def orders_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high/low priority line counts per ship-lag
    band. See retail.ship_lag_priority."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.ship_lag_priority(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        date_from=Q12_FROM,
        date_to=Q12_TO,
    )


Q17_BRAND = "Brand#23"


Q17_FACTOR = 0.5


@query(oracle=f"""
    WITH thr AS (
        SELECT l_partkey AS pk, ROUND(avg(l_quantity), 4) AS avg_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = '{Q17_BRAND}'
        GROUP BY 1)
    SELECT ROUND(sum(l_extendedprice) / 52.0, 4) AS weekly_revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN thr ON l_partkey = pk
    WHERE p_brand = '{Q17_BRAND}'
      AND l_quantity < {Q17_FACTOR} * avg_qty
""")
def part_small_lots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: weekly revenue of below-half-average-quantity
    lines of one brand. See retail.small_quantity_revenue."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.small_quantity_revenue(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "lineitem"),
        brand=Q17_BRAND,
        qty_factor=Q17_FACTOR,
    )


Q21_NATION = "NATION_3"


Q21_LAG_DAYS = 90


@query(oracle=f"""
    SELECT s_name,
           CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o ON l1.l_orderkey = o.o_orderkey
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = '{Q21_NATION}'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL {Q21_LAG_DAYS} DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate
                            + INTERVAL {Q21_LAG_DAYS} DAY)
    GROUP BY 1 ORDER BY numwait DESC, s_name
""")
def supplier_sole_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: sole-late-supplier order counts for one
    nation's suppliers. See retail.sole_late_suppliers."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.sole_late_suppliers(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        nation_name=Q21_NATION,
        lag_days=Q21_LAG_DAYS,
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


Q2_REGION = "EUROPE"


Q2_TYPE = "LARGE"


@query(oracle=f"""
    WITH sup_r AS (
        SELECT s_suppkey, s_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{Q2_REGION}'),
    offers AS (
        SELECT l_partkey AS partkey, s_name,
               ROUND(CAST(sum(CAST(floor(l_extendedprice / l_quantity
                                          * 10000 + 0.5) AS BIGINT))
                          AS DOUBLE)
                     / (CAST(count(*) AS DOUBLE) * 10000), 6) AS unit_price
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN sup_r ON l_suppkey = s_suppkey
        WHERE p_type = '{Q2_TYPE}'
        GROUP BY 1, 2)
    SELECT partkey, s_name, unit_price
    FROM offers o
    WHERE unit_price = (SELECT min(unit_price) FROM offers o2
                        WHERE o2.partkey = o.partkey)
    ORDER BY partkey, s_name
""")
def part_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: tie-safe lowest-unit-price supplier per part of
    one type within a region. See retail.min_cost_supplier."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.min_cost_supplier(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
        region_name=Q2_REGION,
        part_type=Q2_TYPE,
    )


Q16_EXCLUDE_TYPE = "PROMO"


@query(oracle=f"""
    SELECT p_brand,
           CAST(CAST(floor(p_size / 10) * 10 AS BIGINT) AS INT)
             AS size_band,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type <> '{Q16_EXCLUDE_TYPE}'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY 1, 2 ORDER BY 1, 2
""")
def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per (brand, size
    band) with a NOT IN supplier blacklist.
    See retail.supplier_part_relationship."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.supplier_part_relationship(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        exclude_type=Q16_EXCLUDE_TYPE,
    )


@query(oracle="""
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
""")
def orders_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase gap distribution. See retail.reorder_intervals."""
    from ksql_query_tutorial_spark.operators.retail import reorder_intervals

    return reorder_intervals(load(spark, sf_dir, "orders"))


Q20_TOKEN = "red"


Q20_YEAR = 1996


Q20_SHARE = 0.5


@query(oracle=f"""
    WITH cells AS (
        SELECT l_partkey AS pk, l_suppkey AS sk, sum(l_quantity) AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%{Q20_TOKEN}%'
          AND l_shipdate >= TIMESTAMP '{Q20_YEAR}-01-01'
          AND l_shipdate < TIMESTAMP '{Q20_YEAR + 1}-01-01'
        GROUP BY 1, 2),
    dom AS (
        SELECT sk, CAST(count(DISTINCT pk) AS BIGINT) AS n_dominated_parts
        FROM cells c
        WHERE qty > {Q20_SHARE} * (SELECT sum(qty) FROM cells c2
                                   WHERE c2.pk = c.pk)
        GROUP BY 1)
    SELECT s_suppkey, s_name, n_dominated_parts
    FROM supplier JOIN dom ON s_suppkey = sk
    ORDER BY s_suppkey
""")
def supplier_dominant_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers dominating a token-named part's
    year shipments. See retail.dominant_part_suppliers."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.dominant_part_suppliers(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        name_token=Q20_TOKEN,
        year=Q20_YEAR,
        share=Q20_SHARE,
    )


@query(oracle="""
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
""")
def lineitem_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth.
    See retail.yoy_monthly_growth."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.yoy_monthly_growth(load(spark, sf_dir, "lineitem"))


RANK_YEAR_A = 1996


RANK_YEAR_B = 1997


@query(oracle=f"""
    WITH wide AS (
        SELECT n_name AS nation,
               ROUND(sum(CASE WHEN extract(year FROM o_orderdate)
                                   = {RANK_YEAR_A}
                              THEN o_totalprice END), 4) AS revenue_a,
               ROUND(sum(CASE WHEN extract(year FROM o_orderdate)
                                   = {RANK_YEAR_B}
                              THEN o_totalprice END), 4) AS revenue_b
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '{RANK_YEAR_A}-01-01'
          AND o_orderdate < TIMESTAMP '{RANK_YEAR_B + 1}-01-01'
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
""")
def nation_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation revenue-rank movement between two years.
    See retail.nation_rank_movers."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.nation_rank_movers(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "nation"),
        year_a=RANK_YEAR_A,
        year_b=RANK_YEAR_B,
    )


@query(oracle="""
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
""")
def supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier lead-time mean/stddev scorecard.
    See retail.lead_time_scorecard."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.lead_time_scorecard(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
    )


@query(oracle="""
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
""")
def nation_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-revenue concentration (HHI) per nation.
    See retail.revenue_concentration_hhi."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.revenue_concentration_hhi(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "nation"),
    )


@query(oracle="""
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
""")
def customer_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier reorder-gap survival per market segment, with the
    last-order-to-corpus-end gaps entering as censored observations.
    See retail.reorder_survival."""
    from ksql_query_tutorial_spark.operators.retail import reorder_survival

    return reorder_survival(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    )


@query(oracle="""
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
""")
def supplier_single_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source supply risk per nation: parts served by exactly
    ONE supplier and the lineitem revenue riding on them — the
    procurement readout that sizes what a single supplier failure
    strands. One lineitem rollup per (part, supplier), a bounded
    part-level reduction, then a nation rollup with the dim broadcast.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.sum(rev), 4).alias("__rev")
    )
    parts = ps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("__n_supp"),
        F.max("l_suppkey").alias("__solo_supp"),
        F.sum("__rev").alias("__part_rev"),
    )
    solo = parts.filter(F.col("__n_supp") == 1)
    return (
        solo.join(
            s, solo["__solo_supp"] == s["s_suppkey"]
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_single_source_parts"),
            F.round(F.sum("__part_rev"), 4).alias("revenue_at_risk"),
        )
        .orderBy("nation")
    )


@query(oracle="""
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
""")
def part_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-price dispersion per part type: the coefficient of
    variation of lineitem unit price (extendedprice/quantity) within
    each p_type — the pricing-consistency audit that flags types sold
    at wildly inconsistent unit prices (data errors or uncontrolled
    discounting).

    Scale design: one fact-keyed rollup carrying exact double moment
    sums per type (bounded domain), the part dim broadcast; CV is a
    per-row expression on the bounded rollup.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    joined = li.join(
        F.broadcast(p.select("p_partkey", "p_type")),
        li["l_partkey"] == F.col("p_partkey"),
    )
    m = joined.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(unit).alias("__s1"),
        F.sum(unit * unit).alias("__s2"),
    )
    n = F.col("n_lines").cast("double")
    mu = F.col("__s1") / n
    var = F.greatest(F.col("__s2") / n - mu * mu, F.lit(0.0))
    return m.select(
        "p_type",
        "n_lines",
        F.round(mu, 6).alias("mean_unit_price"),
        F.round(F.sqrt(var) / mu, 6).alias("cv"),
    ).orderBy("p_type")


# ---------------------------------------------- Wilson ranking (r9)

ON_TIME_DAYS = 45
_WZ = 1.959963984540054
_WZ2 = repr(_WZ * _WZ)


@query(oracle=f"""
    WITH j AS (SELECT l_suppkey,
                      CASE WHEN date_diff('day', o_orderdate::DATE,
                                          l_shipdate::DATE)
                                <= {ON_TIME_DAYS}
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
           ROUND((p + {_WZ2} / (2.0 * n)
                  - {_WZ!r} * sqrt(p * (1.0 - p) / n
                                   + {_WZ2} / (4.0 * n * n)))
                 / (1.0 + {_WZ2} / n), 6) AS wilson_lb
    FROM calc JOIN supplier ON l_suppkey = s_suppkey
    ORDER BY s_suppkey
""")
def supplier_on_time_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier on-time rate ranked by the Wilson lower bound (the
    small-sample-correct ranking). See retail.on_time_wilson."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.on_time_wilson(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        on_time_days=ON_TIME_DAYS,
        z=_WZ,
    )


# ------------------------------------------------ Weibull fit (r9)


@query(oracle="""
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
""")
def lineitem_weibull_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape/scale fit of the positive fulfillment delay via
    median-rank regression. See retail.weibull_delay_fit."""
    from ksql_query_tutorial_spark.operators import retail

    return retail.weibull_delay_fit(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
    )
