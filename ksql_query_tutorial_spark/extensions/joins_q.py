"""As-of join, range join, rollup, and storage-layout extension queries.

Split from the former extensions.py monolith (pure move; VERDICT r6 #3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.operators import (
    asof,
    rangejoin,
    rollup,
)
from ksql_query_tutorial_spark.tables import load

from ._registry import query
from ._shared import *  # noqa: F401,F403 — shared constants/SQL fragments


# -------------------------------------------------------------------- asof

@query(oracle="""
        WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        c AS (SELECT event_id AS click_event_id, user_id, ts AS click_ts
              FROM events WHERE event_type = 'click')
        SELECT p.event_id, p.user_id, p.ts, c.click_event_id, c.click_ts
        FROM p LEFT JOIN c
          ON p.user_id = c.user_id AND c.click_ts <= p.ts
        QUALIFY row_number() OVER (
          PARTITION BY p.event_id
          ORDER BY c.click_ts DESC NULLS LAST, c.click_event_id DESC NULLS LAST) = 1
        ORDER BY p.event_id
    """)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent click
    at or before it (ties on ts broken by highest click event id)."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("click_ts"),
    )
    return asof.asof_join(
        purchases, clicks, time_col="ts", by_cols=["user_id"],
        order_col="click_event_id",
    ).select("event_id", "user_id", "ts", "click_event_id", "click_ts")


@query(oracle="""
        SELECT o.o_orderkey, o.o_custkey,
               CAST(COALESCE(c.cnt, 0) AS BIGINT) AS n_prior_90d
        FROM orders o LEFT JOIN (
          SELECT a.o_orderkey AS k, count(*) AS cnt
          FROM orders a JOIN orders b
            ON a.o_custkey = b.o_custkey
           AND a.o_orderkey <> b.o_orderkey
           AND b.o_orderdate >= a.o_orderdate - INTERVAL 90 DAY
           AND b.o_orderdate <= a.o_orderdate
          GROUP BY 1
        ) c ON o.o_orderkey = c.k
        ORDER BY o.o_orderkey
    """)
def range_orders_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per order, how many OTHER orders the same customer
    placed in the preceding 90 days (inclusive) — repeat-purchase
    density via the bucketized-equality range join.

    Scan shape (r7 measured-kept): orders is scanned three times, each
    pruned to 3 columns (both range-join sides + the final left join
    back). Persisting the loaded frame instead measured 1.07× at
    sf0.1 and 1.32× at sf1 (STRESS.md r7 scan-audit burn-down) — the
    pruned rescans are cheaper than the cache materialization."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    l = o.withColumn("pt", F.unix_timestamp("o_orderdate").cast("double"))
    r = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("r_orderkey"),
        F.unix_timestamp("o_orderdate").cast("double").alias("rpt"),
    )
    pairs = rangejoin.range_join(
        l, r, ["o_custkey"], "pt", "rpt", lower=-90 * 86400.0, upper=0.0
    ).filter(F.col("r_orderkey") != F.col("o_orderkey"))
    counts = pairs.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_prior_90d"))
    return (
        o.join(counts, "o_orderkey", "left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.coalesce(F.col("n_prior_90d"), F.lit(0).cast("long")).alias("n_prior_90d"),
        )
    )


@query(oracle="""
        SELECT 'hour' AS granularity, date_trunc('hour', ts) AS bucket_start,
               event_type, count(*) AS n, ROUND(SUM(value), 6) AS total_value
        FROM events GROUP BY 2, 3
        UNION ALL
        SELECT 'day', date_trunc('day', ts), event_type,
               count(*), ROUND(SUM(value), 6)
        FROM events GROUP BY 2, 3
        ORDER BY granularity, bucket_start, event_type
    """)
def rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup: hour+day continuous aggregate over events,
    day level re-aggregated from hourly partials (not the raw table)."""
    e = load(spark, sf_dir, "events")
    out = rollup.hypertable_rollup(
        e, "ts", ["event_type"], "value", granularities=("hour", "day")
    )
    return out.select(
        "granularity", "bucket_start", "event_type", "n",
        F.round("total_value", 6).alias("total_value"),
    )


# ----------------------------------------------- z-order layout audit

ZORDER_BITS = 16


ZORDER_FILES = 64


def _zorder_sql(xi: str, yi: str, bits: int) -> str:
    """DuckDB twin of files.zorder_key: identical shift/and/add terms."""
    return " + ".join(
        f"((({xi} >> {b}) & 1) << {2 * b + 1}) + ((({yi} >> {b}) & 1) << {2 * b})"
        for b in range(bits)
    )


_Z_SCALE = (1 << ZORDER_BITS) - 1


_Z_SHIFT = 2 * ZORDER_BITS - (ZORDER_FILES.bit_length() - 1)


@query(oracle=f"""
    WITH src AS (SELECT o_custkey AS x,
                        CAST(datediff('day', DATE '1970-01-01',
                                      CAST(o_orderdate AS DATE)) AS BIGINT) AS y
                 FROM orders),
    b AS (SELECT min(x) AS minx, max(x) AS maxx,
                 min(y) AS miny, max(y) AS maxy FROM src),
    s AS (SELECT x, y,
                 CAST(floor(CAST((x - minx) * {_Z_SCALE} AS DOUBLE)
                            / CAST(greatest(maxx - minx, 1) AS DOUBLE))
                      AS BIGINT) AS xi,
                 CAST(floor(CAST((y - miny) * {_Z_SCALE} AS DOUBLE)
                            / CAST(greatest(maxy - miny, 1) AS DOUBLE))
                      AS BIGINT) AS yi
          FROM src, b),
    z AS (SELECT x, y, ({_zorder_sql("xi", "yi", ZORDER_BITS)}) AS zv FROM s)
    SELECT zv >> {_Z_SHIFT} AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS min_x, max(x) AS max_x,
           min(y) AS min_y, max(y) AS max_y
    FROM z GROUP BY 1 ORDER BY 1
""")
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order file layout audit over orders (customer × order-day):
    assign rows to Morton-interleaved file buckets and report each
    file's min/max bounds on BOTH columns — the data-skipping layout
    (OPTIMIZE ZORDER) expressed as its audit query. See
    sources.files.zorder_file_stats."""
    from ksql_query_tutorial_spark.sources.files import zorder_file_stats

    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).cast("long").alias("o_day"),
    )
    return zorder_file_stats(
        o, "o_custkey", "o_day", bits=ZORDER_BITS, n_files=ZORDER_FILES
    )


@query(oracle="""
    WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_event_id, user_id,
                 ts AS purchase_ts
          FROM events WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id, c.ts,
           p.purchase_event_id, p.purchase_ts
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id AND p.purchase_ts >= c.ts
    QUALIFY row_number() OVER (
      PARTITION BY c.event_id
      ORDER BY p.purchase_ts ASC NULLS LAST,
               p.purchase_event_id DESC NULLS LAST) = 1
    ORDER BY c.event_id
""")
def asof_click_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join — time-to-convert attribution: each click
    matched to the user's EARLIEST purchase at or after it (ties on
    ts broken by highest purchase event id), the mirror of
    asof_purchase_click through the same single-shuffle union-window
    operator with direction='forward'. See asof.asof_join."""
    from ksql_query_tutorial_spark.operators import asof

    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("purchase_ts"),
    )
    return asof.asof_join(
        clicks, purchases, time_col="ts", by_cols=["user_id"],
        order_col="purchase_event_id", direction="forward",
    ).select(
        "event_id", "user_id", "ts", "purchase_event_id", "purchase_ts"
    )


ASOF_NEAREST_TOL_S = 21600.0  # 6 hours, µs-exact in both engines


# The QUALIFY ordering reproduces the operator's pick exactly: the
# within-tolerance candidate with the smallest |Δt| (epoch µs), ties
# between sides to the backward match (pick_b has db <= df), ties
# within a side (same |Δt| = same ts) to the highest click event id.
@query(oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_event_id, user_id,
                 ts AS click_ts
          FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts,
           c.click_event_id, c.click_ts
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND abs(epoch_us(p.ts) - epoch_us(c.click_ts))
         <= {int(ASOF_NEAREST_TOL_S * 1_000_000)}
    QUALIFY row_number() OVER (
      PARTITION BY p.event_id
      ORDER BY abs(epoch_us(p.ts) - epoch_us(c.click_ts)) ASC NULLS LAST,
               CASE WHEN c.click_ts <= p.ts THEN 0 ELSE 1 END ASC,
               c.click_event_id DESC NULLS LAST) = 1
    ORDER BY p.event_id
""")
def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of with tolerance: each purchase matched
    to the click with the smallest |Δt| within ±6h (ties: backward
    wins, then highest click event id), unmatched purchases kept with
    NULL payload — the remaining direction/tolerance surface of
    asof.asof_join under driver-provable oracle coverage (backward =
    asof_purchase_click, forward = asof_click_next_purchase)."""
    from ksql_query_tutorial_spark.operators import asof

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("click_ts"),
    )
    return asof.asof_join(
        purchases, clicks, time_col="ts", by_cols=["user_id"],
        order_col="click_event_id", direction="nearest",
        tolerance_seconds=ASOF_NEAREST_TOL_S,
    ).select(
        "event_id", "user_id", "ts", "click_event_id", "click_ts"
    )
