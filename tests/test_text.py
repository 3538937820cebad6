

def test_quality_score_exact_integer_shape(spark):
    """Exact integer raw sums in [-1000·n, 1000·n], score =
    raw/(1000·n) rounded, pass ⇔ raw>0; the empty-ish doc degenerates
    without nulls."""
    from ksql_query_tutorial_spark.operators.text import with_quality_score

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "a a a a"), (3, " ")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_quality_score(df).collect()}
    assert set(rows) == {1, 2, 3}
    for r in rows.values():
        n = r["n_distinct_tokens"]
        assert abs(r["qs_raw"]) <= 1000 * max(n, 1)
        assert r["qs_pass"] == (r["qs_raw"] > 0)
        expect = round(r["qs_raw"] / (1000.0 * max(n, 1)), 6)
        assert abs(r["quality_score"] - expect) < 1e-9
    assert rows[2]["n_distinct_tokens"] == 1  # 'a' deduped


def test_staged_tokens_refuses_colliding_column(spark):
    """ADVICE r7: a caller frame already carrying the __toks staging
    name must raise, not be silently overwritten and dropped."""
    import pytest

    from ksql_query_tutorial_spark.operators.text import (
        with_fingerprint,
        with_lang_id,
        with_quality,
    )

    df = spark.createDataFrame(
        [(1, "hello world", "poison")], "doc_id long, text string, __toks string"
    )
    for fn in (with_quality, with_lang_id, with_fingerprint):
        with pytest.raises(ValueError, match="__toks"):
            fn(df)
