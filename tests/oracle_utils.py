"""Local mirror of the driver's DuckDB-oracle comparison — STRICT.

Runs a Spark query and its oracle SQL side by side, normalizes both
exactly the way the driver does (lower-cased columns sorted by name,
floats rounded to 6, datetimes tz-stripped to datetime64[us], object
columns stringified, rows sorted by all columns), and compares the
md5 of the normalized CSV. NO tolerant rescue: the real driver hashes
the CSV with no fallback, and the r5 post-mortem (VERDICT r5 "What's
wrong") traced five shipped oracle bugs to a local gate that silently
coerced int64-vs-float64 skew through an ``astype(float)``/allclose
compare. On mismatch the assertion message classifies the first
differing column — dtype-class skew (integer vs float vs string) is
called out explicitly, since that was the failure mode every time.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pandas as pd

from ksql_query_tutorial_spark.tables import TABLES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).df()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """The driver's normalization, byte-for-byte; the driver simulation
    (driver_sim.py) compares with this same function."""
    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except Exception:
                pass
            pdf[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.round(6)
        elif s.dtype == object:
            pdf[c] = s.astype(str)
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return pdf


def value_hash(pdf: pd.DataFrame) -> str:
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


def _dtype_class(s: pd.Series) -> str:
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "integer"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "string"


def diff_report(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """Per-column explanation of a strict-hash mismatch between two
    already-normalized frames of identical shape and column names."""
    msgs = []
    for c in got.columns:
        g, w = got[c], want[c]
        if _dtype_class(g) != _dtype_class(w):
            msgs.append(
                f"column {c}: DTYPE-CLASS SKEW spark={g.dtype} "
                f"oracle={w.dtype} (CSV reprs differ even for equal "
                f"values — fix the oracle's output type)"
            )
            continue
        ga, wa = g.astype(str), w.astype(str)
        bad = (ga != wa).to_numpy().nonzero()[0]
        if len(bad):
            i = int(bad[0])
            msgs.append(
                f"column {c}: {len(bad)} differing CSV values, first at "
                f"row {i}: spark={g.iloc[i]!r} oracle={w.iloc[i]!r}"
            )
    return "; ".join(msgs) if msgs else (
        "no per-column diff found (header or row-index artifact)"
    )


def assert_matches_oracle(spark_df, oracle_sql: str, sf_dir: str, name: str = "?"):
    got = normalize(spark_df.toPandas())
    want = normalize(run_oracle(oracle_sql, sf_dir))
    assert len(got) == len(want), (
        f"{name}: row count {len(got)} != oracle {len(want)}"
    )
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}"
    )
    if value_hash(got) != value_hash(want):
        raise AssertionError(
            f"{name}: STRICT value-hash mismatch (driver-fatal): "
            + diff_report(got, want)
        )


def duckdb_float_check(g: float, w: float) -> bool:
    return (math.isnan(g) and math.isnan(w)) or abs(g - w) <= 1e-6 + 1e-6 * abs(w)
