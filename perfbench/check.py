"""Result checks: the strict normalized-hash rule and the DuckDB oracle.

``normalize``/``value_hash`` follow the repository's strict oracle rule
(``tests/oracle_utils.py``): lower-cased columns sorted by name, floats
rounded to 6 places, datetimes made naive ``datetime64[us]``, object
columns stringified, rows sorted by every column, then the md5 of the
CSV. The copy here keeps the benchmark's verdicts fixed while the
program's tests evolve.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
            pdf[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.round(6)
        elif s.dtype == object:
            pdf[c] = s.astype(str)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def value_hash(pdf: pd.DataFrame) -> str:
    """``rows:md5`` of the normalized frame."""
    norm = normalize(pdf)
    digest = hashlib.md5(norm.to_csv(index=False).encode()).hexdigest()
    return f"{len(norm)}:{digest}"


class Oracle:
    """DuckDB over the same parquet files the program reads."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def hash(self, sql: str) -> str:
        return value_hash(self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()
