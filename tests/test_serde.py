"""Serde unit tests: the JSON key/value sink layout."""

from __future__ import annotations

from ksql_query_tutorial_spark.functions.serde import encode_kv


def test_encode_kv_value_field_order_is_column_order(spark):
    df = spark.createDataFrame([("1", 2, 1)], "id string, home_goals int, away_goals int")
    r = encode_kv(df, ["id"]).collect()[0]
    assert r.key == "1"
    assert r.value == '{"HOME_GOALS":2,"AWAY_GOALS":1}'
