"""Each portable hash in ``functions/hashes.py`` equals its DuckDB twin
on every input, NULL and negative ids included, and no other package
file writes out a hash constant. The Spark side runs as the scripts
spell it, through the KSQL dialect (``ID_HASH``, ``AB_ARM``,
``TOKEN_HASH``, ``KMV_MIX``, ``HLL_HASH``)."""

from __future__ import annotations

import pathlib
import re

import duckdb
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.functions import hashes
from ksql_query_tutorial_spark.ksql.engine import select_over

TOKENS = ["", "a", "é", "日本", "a b", "\t", ("tok-é日 " * 38)[:300], None]
IDS = [0, 7, 1_048_572, 1_048_573, 1 << 40, -5, -1_048_574, None]
HASHES = [0, 1, hashes.M31 - 1, hashes.M31, 1 << 31, 123_456_789_012,
          (1 << 40) + 12_345, 3_141_592_653_589_793_238 >> 2, (1 << 62) - 1]


def _frame(spark, values, ddl):
    return spark.createDataFrame(list(enumerate(values)), f"i int, x {ddl}")


def _collect(df, names):
    """{column name: [value per input]} in input order."""
    rows = df.orderBy("i").collect()
    return {n: [r[n] for r in rows] for n in names}


def _duckdb(values, ddl, forms):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t (i INTEGER, x {ddl})")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(values)))
    cols = ", ".join(f"{sql('x')} AS {n}" for n, sql in forms.items())
    rows = con.execute(f"SELECT {cols} FROM t ORDER BY i").fetchall()
    return {n: [r[k] for r in rows] for k, n in enumerate(forms)}


def _assert_twins(got, values, sql_forms, sql_ddl):
    want = _duckdb(values, sql_ddl, sql_forms)
    for n in sql_forms:
        assert got[n] == want[n], (n, list(zip(values, got[n], want[n])))


def test_token_hash_twin(spark):
    """TOKEN_HASH and the nested KMV_MIX(TOKEN_HASH(x)) of the dialect."""
    df = select_over("SELECT i, TOKEN_HASH(x) AS h, KMV_MIX(TOKEN_HASH(x)) AS kmv FROM t",
                     t=_frame(spark, TOKENS, "string"))
    _assert_twins(
        _collect(df, ["h", "kmv"]), TOKENS,
        {"h": hashes.token_hash_sql,
         "kmv": lambda x: hashes.kmv_mix_sql(hashes.token_hash_sql(x))},
        "VARCHAR",
    )


def test_id_hash_twins(spark):
    df = select_over("SELECT i, ID_HASH(x, 1000000) AS u, AB_ARM(x) AS arm, "
                     "HLL_HASH(x) AS hll FROM t", t=_frame(spark, IDS, "long"))
    _assert_twins(
        _collect(df, ["u", "arm", "hll"]), IDS,
        {"u": lambda x: hashes.id_hash_sql(x, 1_000_000), "arm": hashes.ab_arm_sql,
         "hll": lambda x: hashes.hll_hash_sql(hashes.hll_fold_sql(x))},
        "BIGINT",
    )


def test_mix_and_position_twins(spark):
    """KMV_MIX and HLL_HASH through the dialect; the quality-score weight
    and the Bloom positions, which no script spells, through ``F.expr``."""
    k, m = 4, 1 << 20
    values = HASHES + [None]
    df = select_over("SELECT i, x, KMV_MIX(x) AS kmv, HLL_HASH(x) AS hll FROM t",
                     t=_frame(spark, values, "long"))
    df = df.select("i", "kmv", "hll",
                   F.expr(hashes.qs_weight("x", 4096, 2001)).alias("qs"),
                   *[F.expr(p).alias(f"p{i}")
                     for i, p in enumerate(hashes.affine_positions("x", k, m))])
    sql_forms = {
        "kmv": hashes.kmv_mix_sql,
        "hll": lambda x: hashes.hll_hash_sql(hashes.hll_fold_sql(x)),
        "qs": lambda x: hashes.qs_weight_sql(x, 4096, 2001),
    }
    for i in range(k):
        sql_forms[f"p{i}"] = lambda x, i=i: hashes.affine_position_sql(x, str(i), m)
    _assert_twins(_collect(df, sql_forms), values, sql_forms, "BIGINT")


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
