"""Source-adapter tests that run without external systems: the JDBC
incrementing ingest's watermark protocol (the Connect offsets analog,
all.sql:11-12 in the reference tutorial) with the actual JDBC read faked,
and the Z-order file-layout keys and statistics."""

from __future__ import annotations

import os

from pyspark.sql import DataFrameReader

from ksql_query_tutorial_spark.sources.jdbc import IncrementingIngest


def test_incrementing_ingest_watermark_protocol(spark, tmp_path, monkeypatch):
    table = [(0, "a"), (1, "b"), (2, "c")]
    issued_queries: list[str] = []

    def fake_jdbc(self, url, query, properties=None, **kw):
        issued_queries.append(query)
        wm = int(query.split(">")[1].split(")")[0])
        rows = [r for r in table if r[0] > wm]
        return spark.createDataFrame(rows or [], "id long, name string")

    monkeypatch.setattr(DataFrameReader, "jdbc", fake_jdbc)
    ckpt = os.path.join(tmp_path, "wm.json")
    ing = IncrementingIngest(spark, "jdbc:fake://x", "players", "id", ckpt)

    # first poll: everything; watermark advances to 2
    assert ing.poll().count() == 3
    assert ing.watermark() == 2
    # steady state: nothing new -> empty, watermark unchanged
    assert ing.poll().count() == 0
    assert ing.watermark() == 2
    # new rows appear -> only the delta is read
    table.append((3, "d"))
    got = [tuple(r) for r in ing.poll().collect()]
    assert got == [(3, "d")]
    assert ing.watermark() == 3
    # the predicate is pushed into the dbtable subquery (DB-side filter)
    assert all("WHERE id >" in q for q in issued_queries)

    # restart from the persisted checkpoint: no re-read
    ing2 = IncrementingIngest(spark, "jdbc:fake://x", "players", "id", ckpt)
    assert ing2.watermark() == 3
    assert ing2.poll().count() == 0


def test_zorder_key_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from ksql_query_tutorial_spark.sources.files import zorder_key

    df = spark.createDataFrame(
        [(0b101, 0b011)], "x long, y long"
    ).select(zorder_key(F.col("x"), F.col("y"), bits=3).alias("z"))
    # x=101 -> odd positions (bits 5,3,1): 1,0,1; y=011 -> even (4,2,0):
    # 0,1,1 => bits 543210 = 100111 = 39
    assert df.collect()[0]["z"] == 0b100111


def test_zorder_files_bound_both_dimensions(spark):
    """The point of z-order: every file's min/max range is narrow in
    BOTH dimensions. On a uniform 64x64 grid split into 16 files, each
    file must span at most half the global range of each dim (a
    single-dim sort would give full-width ranges on the other dim)."""
    from pyspark.sql import functions as F

    from ksql_query_tutorial_spark.sources.files import zorder_file_stats

    grid = (
        spark.range(64 * 64)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
    )
    stats = zorder_file_stats(grid, "x", "y", bits=6, n_files=16).collect()
    assert len(stats) == 16
    assert sum(r["n_rows"] for r in stats) == 64 * 64
    for r in stats:
        assert r["max_x"] - r["min_x"] <= 32, r
        assert r["max_y"] - r["min_y"] <= 32, r


def test_zorder_plan_broadcast_bounds_no_sort(spark):
    """One broadcast of the 4-cell bounds row over the scan, a single
    bounded groupBy — no range partitioning, no Python."""
    from ksql_query_tutorial_spark.plans.checks import (
        assert_no_python,
        executed_plan,
    )
    from ksql_query_tutorial_spark.sources.files import zorder_file_stats
    from ksql_query_tutorial_spark.tables import load
    from pyspark.sql import functions as F

    o = load(spark, "/root/testdata/sf0.001", "orders").select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("o_day"),
    )
    df = zorder_file_stats(o, "o_custkey", "o_day")
    assert_no_python(df)
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_zorder_rejects_non_power_of_two_files(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ksql_query_tutorial_spark.sources.files import zorder_file_stats

    df = spark.range(10).select("id", (F.col("id") * 0).alias("y"))
    with _pytest.raises(ValueError):
        zorder_file_stats(df, "id", "y", n_files=48)
