"""JSON key/value encoding for the Kafka sink record layout.

Replicates the reference's wire layout (/root/reference):
- value: plain JSON object of the non-key columns, field names folded
  to UPPERCASE the way ksqlDB folds identifiers (`README.md:339-341`:
  ``{"HOME_GOALS":2,"AWAY_GOALS":1}``).
- key: the single key column as a bare string (`README.md:342-351`,
  ``print.key=true`` shows ``1:{"HOME_GOALS":2,...}``), OR — for
  composite grouping keys — a JSON object over the group-by columns in
  declaration order (`README.md:462-465`:
  ``{"PLAYER_ID":"1","NAME":"Lionel Messi","NATIONALITY":"Argentinian"}``).

Everything here is ``to_json`` — JVM-side, streaming-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _upper_struct(cols: list[str]) -> Column:
    return F.struct(*[F.col(c).alias(c.upper()) for c in cols])


def encode_key(key_cols: list[str]) -> Column:
    """Message key: bare string for a single key column; JSON object
    (uppercase field names, group-by order) for composite keys."""
    if len(key_cols) == 1:
        return F.col(key_cols[0]).cast("string")
    return F.to_json(_upper_struct(key_cols))


def encode_value(value_cols: list[str]) -> Column:
    """Message value: JSON object of the given columns, uppercase names."""
    return F.to_json(_upper_struct(value_cols))


def encode_kv(df: DataFrame, key_cols: list[str],
              value_cols: list[str] | None = None) -> DataFrame:
    """Project a DataFrame to the Kafka sink layout: (key, value) strings."""
    value_cols = value_cols or [c for c in df.columns if c not in key_cols]
    return df.select(
        encode_key(key_cols).alias("key"), encode_value(value_cols).alias("value")
    )
