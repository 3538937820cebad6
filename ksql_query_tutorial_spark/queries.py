"""Declared query catalog — SURVEY.md §2.8 (Q01–Q19) + windowed extension.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame whose column
names match the DuckDB oracle in :mod:`ksql_query_tutorial_spark.oracles`
exactly (the driver's compare sorts columns by name before hashing).

Every query certifies operators from the reference inventory; docstrings
cite the reference site (paths relative to /root/reference).

Scale design (100 TB discipline applied per query):
- Filters/projections expressed declaratively → Catalyst pushes them into
  the parquet scan (PushedFilters / ReadSchema).
- Joins against bounded dims (region, nation) are explicitly broadcast;
  joins against sf-scaled tables (customer, orders) are left to AQE, which
  converts to broadcast when the build side is small and splits skew.
- Aggregations use built-in ``F.*`` (partial+final hash agg, whole-stage
  codegen); no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.tables import load


# --------------------------------------------------------------------------
# §2.2 Projection / filtering / scalar expressions
# --------------------------------------------------------------------------

def q01_full_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P1,S2] ``SELECT * FROM players EMIT CHANGES`` analog (README.md:97).

    Full scan of a dimension table; the scan reads every column by design.
    """
    return load(spark, sf_dir, "region").select("*")


def q02_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P2] Projection + alias (README.md:124,131).

    Column pruning: only c_name/c_mktsegment/c_custkey reach the scan.
    """
    c = load(spark, sf_dir, "customer")
    return c.select("c_name", F.col("c_mktsegment").alias("segment"))


def q03_ucase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P3] ``UCASE(col)`` → ``F.upper`` (README.md:128-133)."""
    n = load(spark, sf_dir, "nation")
    return n.select("n_nationkey", F.upper("n_name").alias("n_name_uc"))


def q04_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P4] CASE WHEN in projection (README.md:136-148)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 150000, "BIG").otherwise("SMALL").alias("bucket"),
    )


def q05_eq_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F1] Equality filter (README.md:150-156); pushed to the parquet scan."""
    c = load(spark, sf_dir, "customer")
    return c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_name")


def q06_conj_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F2] Conjunctive filter (README.md:157-163); both conjuncts pushed."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F")) \
             .select("l_orderkey", "l_linenumber")


def q07_bool_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F3,F4] Boolean predicate + NOT (README.md:236,260)."""
    e = load(spark, sf_dir, "events")
    return e.filter(~(F.col("event_type") == "view") & (F.col("value") > 50.0)) \
            .select("event_id")


def q08_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F5] IS NOT NULL (all.sql:91)."""
    e = load(spark, sf_dir, "events")
    return e.filter(F.col("props").isNotNull()).select("event_id", "user_id")


# --------------------------------------------------------------------------
# §2.3 Aggregation
# --------------------------------------------------------------------------

def q09_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1] GROUP BY + COUNT (README.md:232-238).

    Partial (map-side) + final hash aggregation; shuffle on event_type only.
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(F.count("event_id").alias("n"))


def q10_filtered_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1,F1] Filter then group-count — the "home_goals" shape
    (README.md:232-238). Filter is pushed below the aggregate into the scan.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("event_id").alias("purchases"))
    )


def q11_conditional_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A3] SUM(CASE WHEN …) pivot-in-one-pass (README.md:280-295)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("purchases"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
    )


def q12_count_distinct_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4,A5,P5,P6] COUNT_DISTINCT + derived ratio (README.md:388-394).

    Exact distinct: Spark plans expand + two-phase agg; at 100 TB swap to
    approx_count_distinct where tolerance allows (documented divergence,
    SURVEY.md §7.4.3).
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).cast("double")
            / F.countDistinct("event_type").cast("double"),
            6,
        ).alias("purchase_ratio")
    )


def q13_latest_by_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A6] LATEST_BY_OFFSET → max_by(col, offset) (all.sql:136-137).

    event_id is the offset analog (FIXTURES.md §B role mapping).
    """
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.max_by("event_type", "event_id").alias("latest_event")
    )


# --------------------------------------------------------------------------
# §2.4 Joins
# --------------------------------------------------------------------------

def q14_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1] Inner equi-join (README.md:367-374).

    Both sides are bounded dims → broadcast the smaller (region, 5 rows).
    The reference's manual co-partitioning (README.md:362-365) is obsolete:
    no shuffle at all here.
    """
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
        .select("n_nationkey", "n_name", "r_name")
    )


def q15_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J2] Left join keeping unmatched rows (all.sql:56-58).

    nation is bounded (25 rows at any sf) → broadcast; customer streams
    through map-side with zero shuffle.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .select("c_custkey", "c_name", "n_name")
    )


def q16_join_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1,A1,A7] Join then aggregate (README.md:369-374; all.sql:94-98).

    lineitem⋈orders is the sf-scaled join: shuffle on l_orderkey/o_orderkey,
    AQE handles skew + may broadcast orders at small sf. The aggregate
    re-shuffles on o_custkey — unavoidable key change, kept as the only
    second exchange.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_custkey")
        .agg(F.count("l_orderkey").alias("items"))
    )


def q17_player_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1,A3,A4,A5,A6,A7] The player_stats CTAS analog
    (all.sql:129-160; README.md:423-454): stream⋈table then a multi-
    aggregate in ONE pass (conditional sums + count-distinct + max_by).

    customer is sf-scaled → no forced broadcast; AQE picks the strategy.
    """
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    purchases = F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    return (
        e.join(c, e.user_id == c.c_custkey, "inner")
        .groupBy("user_id")
        .agg(
            F.max_by("c_name", "event_id").alias("user_name"),
            purchases.alias("purchases"),
            F.round(
                purchases.cast("double") / F.countDistinct("event_type").cast("double"), 6
            ).alias("purchase_ratio"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
        )
    )


# --------------------------------------------------------------------------
# §2.3 multi-column grouping + §2.1 CSAS projection
# --------------------------------------------------------------------------

def q18_multi_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A2,A3] Multi-column GROUP BY (README.md:373,404) — composite
    grouping key (README.md:465), one shuffle on both columns.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("l_orderkey").alias("n"),
            F.round(F.sum("l_quantity"), 6).alias("qty"),
        )
    )


def q19_csas_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S4,P2] CSAS projection (all.sql:45-51). The reference re-keys by
    player_id purely so a later join co-partitions; in Spark the result
    set is just the projection (re-key = sink key selection, §1.5).
    """
    e = load(spark, sf_dir, "events")
    return e.select("event_id", "event_type", "user_id")


def q20_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§7.4 windows] Tumbling-window aggregate — the capability the
    reference's join matrix implies but never exercises (README.md:356-360).

    Batch form of ``F.window``; the streaming form (withWatermark + window)
    lives in ksql_query_tutorial_spark.streaming and is tested by replay.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("event_id").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


# --------------------------------------------------------------------------
# extended join matrix: semi/anti/multi-way (SURVEY.md §2.4 "absent in the
# reference; Spark covers them natively if we ever extend" — extended here)
# --------------------------------------------------------------------------

def q21_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J-ext] LEFT SEMI join: customers with at least one order.

    Semi joins ship ONLY the join key of the right side through the
    shuffle and stop probing a key at first match — strictly cheaper
    than inner-join + distinct at any scale.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


def q22_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J-ext] LEFT ANTI join: customers with no recorded events (the
    NOT EXISTS shape; null-safe by construction, unlike NOT IN).
    events covers a small user slice, so the result is non-trivial at
    every sf (customers⋈orders anti-joins to zero rows)."""
    c = load(spark, sf_dir, "customer")
    e = load(spark, sf_dir, "events")
    return (
        c.join(e, c.c_custkey == e.user_id, "left_anti")
        .select("c_custkey", "c_name")
    )


def q23_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J-ext,A2,A3] Five-table multiway join (TPC-H Q5 flavor):
    lineitem⋈orders⋈customer⋈nation⋈region → revenue per region.

    Scale shape: the two sf-scaled joins (lineitem⋈orders,
    ⋈customer) shuffle on their keys under AQE; the bounded dims
    (nation 25 rows, region 5 rows) broadcast explicitly, so the last
    two joins are map-side and add no exchange. Catalyst reorders
    freely because the plan is declarative.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    revenue = F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(revenue, 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q24_parts_by_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J-ext,A2] lineitem⋈part⋈supplier: shipped small parts per
    supplier nation — exercises the part/supplier tables; the p_size
    filter pushes to the part scan before the join."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("p_size") < 25)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.countDistinct("p_partkey").alias("n_parts"),
            F.round(F.sum("l_quantity"), 6).alias("qty"),
        )
    )


def q25_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J3] FULL OUTER join — the join-matrix capability the reference
    declares for table-table/stream-stream (README.md:356-360) but never
    exercises. Heavy-purchaser and heavy-clicker user sets overlap only
    partly, so both null sides are non-trivial.
    """
    e = load(spark, sf_dir, "events")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("purchases"))
        .filter(F.col("purchases") >= 12)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("clicks"))
        .filter(F.col("clicks") >= 12)
    )
    return p.join(c, "user_id", "full")


def q26_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A-ext] Ordered-set aggregates: exact interpolated percentiles
    (Spark ``percentile`` == DuckDB ``quantile_cont``). At 100 TB swap
    to approx_percentile (t-digest) — documented tolerance tradeoff."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


def q27_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A-ext] Pivot: per-user event counts, one column per event type.
    Explicit value list → single pass, no distinct-scan; equivalent to
    the A3 conditional-sum shape but via the dedicated API."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


def q28_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A-ext] CUBE grouping sets over (returnflag, linestatus) with
    grouping_id to disambiguate the null-as-total rows — one shuffle
    computes all four aggregation levels."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id("l_returnflag", "l_linestatus").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 6).alias("qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "qty")
    )


def q29_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§7.4 windows] HOPPING window aggregate (ksqlDB ``WINDOW HOPPING
    (SIZE 1 HOUR, ADVANCE BY 15 MINUTES)``): each event lands in
    size/hop = 4 overlapping windows.

    ``F.window(ts, size, hop)`` expands rows window-side BEFORE the
    shuffle, so the single groupBy shuffle carries size/hop copies of
    the grouping columns only — the overlap factor is a constant the
    plan pays in map output, never a self-join.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("event_id").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def q30_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§7.4 windows] SESSION window aggregate (ksqlDB ``WINDOW SESSION
    (30 MINUTES)``): per-user activity bursts separated by >=30 min of
    silence.

    Native ``F.session_window`` — Spark sessionizes inside the
    aggregation (each row opens [ts, ts+gap), overlapping windows
    merge), so this is ONE shuffle on the grouping key; no
    gaps-and-islands window-function cascade, and the same expression
    sessionizes a stream under a watermark (``ksql.engine.select_over``
    compiles ``WINDOW SESSION`` to it over a watermarked stream).
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("event_id").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id", "n_events", "total_value",
        )
    )


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

TUTORIAL_QUERIES = {
    "q01_full_scan": q01_full_scan,
    "q02_projection": q02_projection,
    "q03_ucase": q03_ucase,
    "q04_case_when": q04_case_when,
    "q05_eq_filter": q05_eq_filter,
    "q06_conj_filter": q06_conj_filter,
    "q07_bool_not": q07_bool_not,
    "q08_not_null": q08_not_null,
    "q09_group_count": q09_group_count,
    "q10_filtered_group_count": q10_filtered_group_count,
    "q11_conditional_sums": q11_conditional_sums,
    "q12_count_distinct_ratio": q12_count_distinct_ratio,
    "q13_latest_by_offset": q13_latest_by_offset,
    "q14_inner_join": q14_inner_join,
    "q15_left_join": q15_left_join,
    "q16_join_group_count": q16_join_group_count,
    "q17_player_stats": q17_player_stats,
    "q18_multi_group": q18_multi_group,
    "q19_csas_projection": q19_csas_projection,
    "q20_windowed_agg": q20_windowed_agg,
    "q21_semi_join": q21_semi_join,
    "q22_anti_join": q22_anti_join,
    "q23_revenue_by_region": q23_revenue_by_region,
    "q24_parts_by_supplier_nation": q24_parts_by_supplier_nation,
    "q25_full_outer_join": q25_full_outer_join,
    "q26_percentiles": q26_percentiles,
    "q27_pivot": q27_pivot,
    "q28_cube": q28_cube,
    "q29_hopping_window": q29_hopping_window,
    "q30_session_window": q30_session_window,
}
