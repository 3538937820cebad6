"""Windowed streaming through the KSQL compiler: the stream–stream
``JOIN ... WITHIN`` (inner and left outer) and a ``WINDOW TUMBLING``
aggregate under the watermark late-data policy — capabilities the
reference declares but never exercises (README.md:356-360; SURVEY.md
§2.5 'absent' list). Each stream's watermark column is its event time."""

from __future__ import annotations

from pyspark.sql import types as T

from ksql_query_tutorial_spark.ksql.engine import select_over
from ksql_query_tutorial_spark.streaming import replay as R

TS = T.StructType([
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("k", T.StringType(), True),
    T.StructField("v", T.LongType(), True),
])


def ts_rows(*specs):
    return [{"ts": f"2024-01-01T00:{m:02d}:{s:02d}", "k": k, "v": v}
            for (m, s, k, v) in specs]


def within_join(spark, tmp_path, imps, clicks, join, watermark):
    """``SELECT ... FROM imps i <join> clicks c WITHIN 1 MINUTE ON i.k =
    c.k`` over the two row lists, replayed one row per file."""
    d1, d2 = str(tmp_path / "imps"), str(tmp_path / "clicks")
    R.write_chunks(d1, imps, chunk_size=1)
    R.write_chunks(d2, clicks, chunk_size=1)
    return select_over(
        f"SELECT i.k, i.ts AS imp_ts, c.ts AS click_ts, c.v AS click_v "
        f"FROM imps i {join} clicks c WITHIN 1 MINUTE ON i.k = c.k EMIT CHANGES",
        imps=R.stream_source(spark, d1, TS).withWatermark("ts", watermark),
        clicks=R.stream_source(spark, d2, TS).withWatermark("ts", watermark),
    )


def test_within_join_stream_stream(spark, tmp_path):
    """Windowed stream–stream inner join: a click within 1 minute of an
    impression matches; one outside the bound doesn't."""
    imps = ts_rows((0, 0, "x", 1), (2, 0, "y", 1))
    clicks = ts_rows((0, 30, "x", 10),   # within 1 min of x-impression
                     (4, 0, "y", 20))    # 2 min after y → outside bound
    joined = within_join(spark, tmp_path, imps, clicks, "JOIN", "10 minutes")
    q = R.run_to_memory(joined, "ij", output_mode="append", with_batch_id=True)
    rows = [r for _, r in q.emissions]
    assert {(r.k, r.click_v) for r in rows} == {("x", 10)}


def test_late_row_dropped_by_watermark(spark):
    """Late-data policy (ksqlDB grace-period analog), APPEND mode —
    where the drop is GUARANTEED: a closed window emits exactly once,
    so a row arriving after the watermark closed its window cannot be
    counted. (In update mode Spark's contract is weaker: late rows
    "may" be dropped — un-evicted state can still absorb them; verified
    empirically, so the strict test pins append mode.)"""
    rows = (
        ts_rows((0, 10, "a", 1))
        + ts_rows((30, 0, "a", 1))          # advances watermark to 00:25
        + ts_rows((31, 0, "a", 1))          # watermark PROPAGATES (the
        # late-input filter runs on the previous batch's watermark —
        # one-batch propagation delay, verified empirically)
        + ts_rows((0, 50, "a", 1))          # late: window 00:00 closed
    )
    q = R.replay(
        spark, rows, TS,
        lambda df: select_over(
            "SELECT k, WINDOWSTART AS ws, COUNT(*) AS n FROM s "
            "WINDOW TUMBLING (SIZE 1 MINUTE) GROUP BY k",
            s=df.withWatermark("ts", "5 minutes"),
        ),
        name="late", output_mode="append", with_batch_id=True, chunk_size=1,
    )
    final = {str(r.ws): r.n for _, r in q.emissions}
    # window 00:00 emitted once, with the late third row excluded
    assert final == {"2024-01-01 00:00:00": 1}


def test_within_join_left_outer_null_pads_on_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream WITHIN join: an impression with no
    click in its window emits null-padded — but only after the global
    watermark passes the window end (plus one batch of propagation);
    matched rows emit normally."""
    imps = (
        ts_rows((0, 0, "x", 1), (0, 10, "y", 1))
        + ts_rows((40, 0, "zz", 1))        # advance left watermark
        + ts_rows((41, 0, "zz", 1))        # propagation batch
    )
    clicks = (
        ts_rows((0, 30, "x", 10))
        + ts_rows((40, 0, "none", 99))     # advance right watermark
        + ts_rows((41, 0, "none", 99))
    )
    joined = within_join(spark, tmp_path, imps, clicks, "LEFT JOIN", "1 minute")
    q = R.run_to_memory(joined, "ijlo", output_mode="append",
                        with_batch_id=True)
    got = {(r.k, r.click_v) for _, r in q.emissions if r.k in ("x", "y")}
    assert got == {("x", 10), ("y", None)}
