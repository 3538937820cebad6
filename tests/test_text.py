

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


def test_tokens_sql_twin_matches_column_tokenizer(spark):
    """TOKENS(x) of the KSQL dialect and operators.text.tokens return the
    same arrays on the tokenizer's edge inputs: NULL, empty, leading,
    trailing and repeated spaces, tabs, newlines, uppercase and non-ASCII
    text. trim strips spaces only, so a tab or newline at an edge leaves
    an empty token."""
    from pyspark.sql import functions as F

    from ksql_query_tutorial_spark.ksql.engine import select_over
    from ksql_query_tutorial_spark.operators.text import tokens

    texts = [None, "", "   ", "  lead and trail  ", "many    spaces",
             "tab\tsep\t\tend", "\tedge tab\t", "new\nline\n\nend", "\nedge\n",
             "UPPER Case MiXeD", "naïve café ÜNÏCÖDÉ 東京 тест", "nbsp\u00a0inside"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sql = {r.doc_id: r.t for r in
           select_over("SELECT doc_id, TOKENS(text) AS t FROM documents", documents=df).collect()}
    col = {r.doc_id: r.t for r in df.select("doc_id", tokens(F.col("text")).alias("t")).collect()}
    assert sql == col
    assert sql[0] is None and sql[1] == [""] and sql[2] == [""]
    assert sql[3] == ["lead", "and", "trail"] and sql[5] == ["tab", "sep", "end"]
    assert sql[6] == ["", "edge", "tab", ""] and sql[7] == ["new", "line", "end"]
    assert sql[9] == ["upper", "case", "mixed"]
    assert sql[10] == ["naïve", "café", "ünïcödé", "東京", "тест"]
