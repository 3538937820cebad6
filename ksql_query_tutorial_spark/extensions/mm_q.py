"""Multimodal extension queries (frames, features, resize, audio windows) over Arrow mapInPandas with env-gated codecs.

Split from the former extensions.py monolith (pure move; VERDICT r6 #3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.operators import (
    multimodal,
)
from ksql_query_tutorial_spark.tables import load

from ._registry import query
from ._shared import *  # noqa: F401,F403 — shared constants/SQL fragments


# --------------------------------------------------------------- multimodal

@query(oracle="""
        SELECT doc_id AS media_id,
               (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               CAST(octet_length(encode(text)) % 1920 AS INT) AS width,
               octet_length(encode(text)) * 10 AS duration_ms
        FROM documents ORDER BY media_id
    """)
def mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    m = multimodal.media_from_documents(d)
    return m.select(
        "media_id",
        "media_type",
        F.length("payload").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.duration_ms").alias("duration_ms"),
    )


# payload = UTF-8 bytes of text (pure ASCII in the fixture, so
# ascii(char) == byte value); per-doc byte histogram → mean byte +
# Shannon entropy, exactly what the vectorized Arrow batch computes
# one aggregation level on purpose: DuckDB 1.0's CTE inlining trips
# ("LATERAL join cannot contain aggregates" / "nested aggregates")
# when stacked aggregate CTEs sit over an unnest lineage, so the
# per-doc byte histogram comes from the histogram() map aggregate.
# Fixture texts are all non-empty ASCII (ascii(char) == byte value).
@query(oracle="""
        WITH agg AS (
          SELECT doc_id, histogram(ascii(c)) AS h,
                 count(*) AS n, sum(ascii(c)) AS s
          FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
          GROUP BY doc_id
        )
        SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_bytes,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_byte,
               ROUND(-list_sum(list_transform(map_values(h),
                     c -> (CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n))), 6)
                 AS byte_entropy
        FROM agg ORDER BY media_id
    """)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only check (Arrow-batched mapInPandas feature extraction)."""
    d = load(spark, sf_dir, "documents")
    m = multimodal.media_from_documents(d)
    return multimodal.extract_features(m)


@query(oracle="""
        SELECT doc_id AS media_id,
               CAST(16 * 8 AS INT) AS n_bytes,
               CAST(16 AS INT) AS width,
               CAST(8 AS INT) AS height
        FROM documents
        WHERE doc_id % 3 = 0 AND length(text) > 0
        ORDER BY media_id
    """)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level deterministic resize behind the real mapInPandas
    plumbing (codec stubbed). The shape contract IS the oracle: every
    image row resizes to exactly width×height bytes."""
    d = load(spark, sf_dir, "documents")
    m = multimodal.media_from_documents(d)
    r = multimodal.resize_images(m, width=16, height=8)
    return r.select("media_id", F.length("payload").alias("n_bytes"),
                    "width", "height")


@query(oracle="""
    WITH v AS (SELECT doc_id AS media_id, text, length(text) AS n
               FROM documents WHERE doc_id % 3 = 2),
    f AS (SELECT media_id, text, n,
                 unnest(range(0,
                     GREATEST(CAST(floor((n - 1) / 64.0) AS BIGINT), 0) + 1))
                   AS frame_index
          FROM v)
    SELECT media_id, CAST(frame_index AS INT) AS frame_index,
           substring(text, CAST(frame_index * 64 + 1 AS BIGINT), 16)
             AS frame_text,
           CAST(LEAST(16, n - frame_index * 64) AS INT) AS n_frame_bytes
    FROM f ORDER BY media_id, frame_index
""")
def mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over 'video' payloads: a fixed-size byte slice
    every 64 bytes (the byte-level stand-in for keyframe extraction) —
    JVM-side sequence/transform/substring HOFs, no Python, no shuffle.
    Frames are projected as strings for the oracle compare (fixture
    payloads are UTF-8 text bytes and pure ASCII, so byte slicing ==
    char slicing — verified across all fixture sfs)."""
    d = load(spark, sf_dir, "documents")
    media = multimodal.media_from_documents(d)
    frames = multimodal.sample_frames(media, every_n_bytes=64, frame_bytes=16)
    return frames.select(
        "media_id",
        F.col("frame_index").cast("int").alias("frame_index"),
        F.col("frame").cast("string").alias("frame_text"),
        F.octet_length("frame").cast("int").alias("n_frame_bytes"),
    )


# ----------------------------------------------- frame-level video dedup

@query(oracle="""
    WITH v AS (SELECT doc_id AS media_id, text, length(text) AS n
               FROM documents WHERE doc_id % 3 = 2),
    f AS (SELECT media_id,
                 substring(text,
                           CAST(frame_index * 64 + 1 AS BIGINT), 16) AS fr
          FROM (SELECT media_id, text, n,
                       unnest(range(0,
                           GREATEST(CAST(floor((n - 1) / 64.0) AS BIGINT),
                                    0) + 1)) AS frame_index
                FROM v)),
    g AS (SELECT md5(fr) AS fp,
                 CAST(count(*) AS BIGINT) AS n_frames,
                 CAST(count(DISTINCT media_id) AS BIGINT) AS n_media,
                 min(media_id) AS first_media
          FROM f GROUP BY 1)
    SELECT * FROM g WHERE n_frames > 1 ORDER BY fp
""")
def mm_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-video duplicate-frame detection: fingerprint every sampled
    frame (md5) and report fingerprints seen more than once — the
    re-encode/copy detector of video pipelines (frame-hash matching),
    riding on the mm_frames sampling plumbing. Word-count plan: the
    only exchange carries (fingerprint, partial counts)."""
    from ksql_query_tutorial_spark.operators.multimodal import (
        media_from_documents,
        sample_frames,
    )

    d = load(spark, sf_dir, "documents")
    frames = sample_frames(media_from_documents(d))
    return (
        frames.select("media_id", F.md5(F.col("frame")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.countDistinct("media_id").alias("n_media"),
            F.min("media_id").alias("first_media"),
        )
        .filter(F.col("n_frames") > 1)
    )


@query(oracle="""
    WITH a AS (SELECT doc_id AS media_id,
                      CAST(octet_length(encode(text)) // 2 AS BIGINT)
                        AS ns
               FROM documents WHERE doc_id % 3 = 1),
    nw AS (SELECT media_id, ns,
                  GREATEST(1, CAST(ceil((ns - 16000) / 8000.0)
                                   AS BIGINT) + 1) AS n_win
           FROM a WHERE ns > 0),
    w AS (SELECT media_id, ns, unnest(range(0, n_win)) AS window_idx
          FROM nw)
    SELECT media_id, CAST(window_idx AS BIGINT) AS window_idx,
           CAST(window_idx * 8000 * 1000 // 16000 AS BIGINT) AS start_ms,
           CAST((window_idx * 8000 + 16000) * 1000 // 16000 AS BIGINT)
             AS end_ms,
           CAST(LEAST(16000, ns - window_idx * 8000) AS BIGINT)
             AS n_samples_in_window
    FROM w ORDER BY media_id, window_idx
""")
def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window segmentation plan for audio payloads
    (PCM16 arithmetic; decode stubbed like the image codecs). See
    multimodal.audio_windows."""
    d = load(spark, sf_dir, "documents")
    m = multimodal.media_from_documents(d)
    return multimodal.audio_windows(m)
