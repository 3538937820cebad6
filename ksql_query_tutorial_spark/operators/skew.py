"""Skew mitigation: salted two-level aggregation and the key-skew report.

AQE's skew-join split (on in this engine's sessions) handles most join
skew by splitting oversized shuffle partitions. For a hot GROUPING key
the explicit fallback is salting: spread each key's rows over
``n_salts`` sub-keys, aggregate, then merge the partials — turning one
straggler reduce task into ``n_salts`` even ones.

Result is EXACTLY the plain aggregate's result (tested): salting is a
physical rewrite, not a semantic one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-level (salted) aggregation for pathologically low-cardinality
    or hot grouping keys: level 1 aggregates on ``(keys..., salt)`` so a
    hot key's rows spread over ``n_salts`` reducers, level 2 merges the
    ``n_salts`` partials per key.

    With Spark's map-side partial aggregation a plain ``groupBy`` is
    usually enough — partials already collapse each map task to one row
    per key — but when the FINAL reduce per key is itself heavy (huge
    distinct maps, enormous per-key state) or AQE can't split the
    shuffle partition, the explicit two-level shape caps any single
    task's work at ~1/n_salts of the hot key. Deterministic salt (row
    hash, not rand()) keeps retries and speculative tasks bit-identical.

    Result is EXACTLY the plain aggregate's result (sum/count/avg are
    mergeable); only the physical shape changes.

    Returns ``keys..., n_rows, sum_val, avg_val``.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    level1 = (
        df.withColumn("__salt", salt.cast("int"))
        .groupBy(*keys, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(value_col).alias("__s"),
        )
    )
    return (
        level1.groupBy(*keys)
        .agg(F.sum("__n").alias("n_rows"), F.sum("__s").alias("__s2"))
        .select(
            *keys,
            "n_rows",
            F.round("__s2", 6).alias("sum_val"),
            F.round(F.col("__s2") / F.col("n_rows"), 6).alias("avg_val"),
        )
    )


def key_skew_report(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """Join-key skew diagnostic: the frequency histogram of a join
    key, bucketed by bit length (⌊log₂(count)⌋ + 1) — the report that
    decides whether a key needs salting / AQE skew
    handling before it becomes the straggler task at scale.

    Scale design: ONE key-keyed exchange (map-side count partials)
    produces the per-key counts; the bucket rollup runs over the
    bounded (≤64-bucket) space. The bucket index comes from the
    BINARY-STRING length of the count — integer-exact in both engines,
    never ``floor(log2(x))`` float arithmetic, which mis-buckets exact
    powers of two on either side of the ulp.

    Returns ``freq_bucket (bits), n_keys, n_rows, rows_share
    (rounded 6)`` ordered by bucket — a top-heavy tail (few keys in
    high buckets holding a large rows_share) is the salting signal.
    """
    counts = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    bucket = F.length(F.conv(F.col("__c").cast("string"), 10, 2)).cast("int")
    total = counts.agg(F.sum("__c").alias("__total"))
    return (
        counts.groupBy(bucket.alias("freq_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("__c").cast("long").alias("n_rows"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "freq_bucket",
            "n_keys",
            "n_rows",
            F.round(
                F.col("n_rows").cast("double") / F.col("__total").cast(
                    "double"
                ),
                6,
            ).alias("rows_share"),
        )
        .orderBy("freq_bucket")
    )
