"""Key-skew diagnostics: the frequency histogram of a join key.

AQE's skew-join split (on in this engine's sessions) handles most join
skew by splitting oversized shuffle partitions; the report says which
keys need it, or need salting, before they become the straggler task. A
salted two-level aggregate is SQL text (``events_salted_agg`` in
``extensions/events.sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
