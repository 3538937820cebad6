"""Each portable hash in ``functions/hashes.py`` equals its DuckDB twin
on every input, NULL and negative ids included, and no other package
file writes out a hash constant."""

from __future__ import annotations

import pathlib
import re

import duckdb
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.functions import hashes

TOKENS = ["", "a", "é", "日本", "a b", "\t", ("tok-é日 " * 38)[:300], None]
IDS = [0, 7, 1_048_572, 1_048_573, 1 << 40, -5, -1_048_574, None]
HASHES = [0, 1, hashes.M31 - 1, hashes.M31, 1 << 31, 123_456_789_012,
          (1 << 40) + 12_345, 3_141_592_653_589_793_238 >> 2, (1 << 62) - 1]


def _spark(spark, values, ddl, forms):
    """{form name: [value per input]} from one Spark projection."""
    df = spark.createDataFrame(list(enumerate(values)), f"i int, x {ddl}")
    x = F.col("x")
    rows = df.select("i", *[f(x).alias(n) for n, f in forms.items()]).orderBy("i").collect()
    return {n: [r[n] for r in rows] for n in forms}


def _duckdb(values, ddl, forms):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t (i INTEGER, x {ddl})")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(values)))
    cols = ", ".join(f"{sql('x')} AS {n}" for n, sql in forms.items())
    rows = con.execute(f"SELECT {cols} FROM t ORDER BY i").fetchall()
    return {n: [r[k] for r in rows] for k, n in enumerate(forms)}


def _assert_twins(spark, values, ddl, spark_forms, sql_forms, sql_ddl):
    got = _spark(spark, values, ddl, spark_forms)
    want = _duckdb(values, sql_ddl, sql_forms)
    for n in spark_forms:
        assert got[n] == want[n], (n, list(zip(values, got[n], want[n])))


def test_token_hash_twin(spark):
    _assert_twins(
        spark, TOKENS, "string",
        {"h": hashes.token_hash},
        {"h": hashes.token_hash_sql},
        "VARCHAR",
    )


def test_id_hash_twins(spark):
    m = 1_000_000
    _assert_twins(
        spark, IDS, "long",
        {"u": lambda x: hashes.id_hash(x, m), "arm": hashes.ab_arm,
         "hf": hashes.hll_fold},
        {"u": lambda x: hashes.id_hash_sql(x, m), "arm": hashes.ab_arm_sql,
         "hf": hashes.hll_fold_sql},
        "BIGINT",
    )


def test_mix_and_position_twins(spark):
    k, m = 4, 1 << 20
    spark_forms = {
        "kmv": hashes.kmv_mix,
        "qs": lambda x: hashes.qs_weight(x, 4096, 2001),
        "hll": lambda x: hashes.hll_hash(hashes.hll_fold(x)),
    }
    sql_forms = {
        "kmv": hashes.kmv_mix_sql,
        "qs": lambda x: hashes.qs_weight_sql(x, 4096, 2001),
        "hll": lambda x: hashes.hll_hash_sql(hashes.hll_fold_sql(x)),
    }
    for i in range(k):
        spark_forms[f"p{i}"] = lambda x, i=i: hashes.affine_positions(x, k, m)[i]
        sql_forms[f"p{i}"] = lambda x, i=i: hashes.affine_position_sql(x, str(i), m)
    _assert_twins(spark, HASHES + [None], "long", spark_forms, sql_forms, "BIGINT")


def test_affine_coeffs_are_the_documented_family():
    assert [hashes.affine_coeffs(i) for i in range(4)] == [(1, 1), (3, 2), (5, 5), (7, 10)]


PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "ksql_query_tutorial_spark"
HASH_CONSTANT = re.compile(
    r"2_?147_?483_?64[78]|1_?048_?573|2_?654_?435_?761|2_?246_?822_?519"
    r"|\b1\s*<<\s*31\b|\b2\s*\*\s*i\s*\+\s*1\b"
)


def test_hash_constants_live_only_in_hashes_module():
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*"))
        if path.suffix in (".py", ".sql")
        and path.relative_to(PACKAGE).as_posix() != "functions/hashes.py"
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if HASH_CONSTANT.search(line)
    ]
    assert not hits, "declare hash constants in functions/hashes.py:\n" + "\n".join(hits)
