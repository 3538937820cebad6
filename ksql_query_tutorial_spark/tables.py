"""Loaders for the driver's parquet fixtures (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under ``{sf_dir}/{name}.parquet``.

Scale notes: ``spark.read.parquet`` gives Catalyst a relation it can push
filters into and prune columns from (check ``PushedFilters`` / ``ReadSchema``
in ``.explain("formatted")``). Never collect these; never convert to RDD.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are small at ANY scale factor (bounded domains:
# 5 regions, 25 nations) — always broadcast these in joins. `customer`
# et al. GROW with sf, so they are NOT in this set; AQE decides for them.
ALWAYS_BROADCAST = frozenset({"region", "nation"})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark rejects by
    default (PARQUET_TYPE_ILLEGAL). We read nanos as long (legacy conf)
    and rebuild a timestamp from integer-division micros — lossless here
    (fixture timestamps are microsecond-granular) and JVM-side. That
    rebuilt ``ts`` is a session-local TIMESTAMP, so the session time zone
    is pinned to UTC here, where every query builder passes, to match the
    oracle's naive-UTC values under any caller's session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def parquet_row_count(path: str) -> int:
    """Exact row count from parquet FOOTER metadata — no Spark job, no
    data scan (the footer stores per-row-group counts). This is the
    'file statistics' source for sizing knobs (e.g. LSH plane counts)
    that must not cost a full count() action at plan-build time.
    Accepts a single file or a directory of part files.
    """
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for root, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register fixture tables as temp views (for the SQL entry point)."""
    for n in names:
        load(spark, sf_dir, n).createOrReplaceTempView(n)
