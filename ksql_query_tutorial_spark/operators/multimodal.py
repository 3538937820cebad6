"""Multimodal columns: opaque ``binary`` payloads with typed metadata.

Design (per the north-star brief): image/audio/video payloads live in a
``BinaryType`` column next to a typed metadata struct; decode /
feature-extraction / resize / frame-sampling run as Arrow-batched
``mapInPandas`` stages so the heavy per-item work is vectorized and
partition-parallel, with NO driver involvement and no per-row Python.

No image or audio codec runs here: feature extraction and resizing
work on the raw payload bytes with deterministic stand-ins (byte
statistics, a byte-stride resample). Everything Spark-side — schema,
partitioning, UDF signatures, Arrow batch shapes — is the real
plumbing a codec-backed stage would use.

At 100 TB: binary payloads dominate row size — keep
``spark.sql.files.maxPartitionBytes`` low enough that a partition of
blobs fits executor memory, and push metadata-only predicates BEFORE
any mapInPandas stage so pruned files never decode.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("mean_byte", T.DoubleType(), True),
        T.StructField("byte_entropy", T.DoubleType(), True),
    ]
)


def media_from_documents(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Build a media table from the documents fixture: payload = UTF-8
    bytes of the text (a deterministic stand-in for real image bytes),
    media_type round-robined, metadata derived from payload length.
    """
    n_bytes = F.octet_length(F.col(text_col))
    return df.select(
        F.col(id_col).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.col(text_col).cast("binary").alias("payload"),
        F.struct(
            (n_bytes % 1920).cast("int").alias("width"),
            (n_bytes % 1080).cast("int").alias("height"),
            (n_bytes * 10).cast("long").alias("duration_ms"),
            F.lit("fake/deterministic").alias("codec"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads via Arrow-batched
    ``mapInPandas``: per-batch vectorized byte statistics (the
    stand-in for a real embedding model / image featurizer).

    Column pruning matters: only (media_id, payload) enter the Python
    worker; metadata stays JVM-side.
    """
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # ragged payloads -> ONE concatenated byte array + segment
            # ids; the whole batch's per-row histograms come from a
            # single np.add.at, so per-row Python cost is just the
            # zero-copy frombuffer pointer wrap
            bufs = [
                np.frombuffer(p, dtype=np.uint8) if p is not None
                else np.empty(0, dtype=np.uint8)
                for p in pdf["payload"]
            ]
            lengths = np.fromiter((len(b) for b in bufs), dtype=np.int64,
                                  count=len(bufs))
            hist = np.zeros((len(bufs), 256), dtype=np.float64)
            if len(bufs) and lengths.sum():
                seg = np.repeat(np.arange(len(bufs)), lengths)
                np.add.at(hist, (seg, np.concatenate(bufs)), 1.0)
            n = lengths.astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                mean = hist @ np.arange(256, dtype=np.float64) / n
                p = hist / n[:, None]
            plogp = np.zeros_like(p)
            mask = p > 0
            plogp[mask] = p[mask] * np.log2(p[mask])
            entropy = np.round(-plogp.sum(axis=1), 6)
            # NaN (empty/null payload) becomes Arrow null, matching the
            # schema's nullable doubles
            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(),
                "n_bytes": lengths,
                "mean_byte": np.where(lengths > 0, mean, np.nan),
                "byte_entropy": np.where(lengths > 0, entropy, np.nan),
            })

    # decouple worker parallelism from the file layout (a small parquet
    # arrives as one partition → one Python worker)
    par = media.sparkSession.sparkContext.defaultParallelism
    return (
        media.select("media_id", "payload")
        .repartition(par)
        .mapInPandas(batches, FEATURE_SCHEMA)
    )


def sample_frames(media: DataFrame, every_n_bytes: int = 64,
                  frame_bytes: int = 16) -> DataFrame:
    """Frame sampling for "video" payloads: take a ``frame_bytes`` slice
    every ``every_n_bytes`` (the byte-level stand-in for keyframe
    extraction). JVM-side via array HOFs on the payload — no Python.

    Returns: media_id, frame_index, frame (binary).
    """
    n = F.octet_length("payload")
    idx = F.sequence(F.lit(0), F.greatest((n - 1) / every_n_bytes, F.lit(0)).cast("int"))
    frames = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("frame_index"),
            F.substring(F.col("payload"), i * every_n_bytes + 1, frame_bytes).alias("frame"),
        ),
    )
    return (
        media.filter(F.col("media_type") == "video")
        .select("media_id", F.explode(frames).alias("f"))
        .select("media_id", F.col("f.frame_index").alias("frame_index"),
                F.col("f.frame").alias("frame"))
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def resize_images(media: DataFrame, width: int = 64,
                  height: int = 64) -> DataFrame:
    """Resize "image" payloads to ``width×height`` via Arrow-batched
    ``mapInPandas`` — the plumbing for a PIL/opencv resize, with a
    byte-level stand-in for the codec.

    The deterministic "resample" strides the payload bytes to
    exactly ``width·height`` output bytes (repeating when upscaling),
    preserving the real operator's shape contract: bounded output size
    per row regardless of input size — which is what makes the stage
    safe at 100 TB (output partitions can't blow up past
    rows × width × height bytes). Only (media_id, payload) enter the
    Python worker; a metadata-only media_type filter prunes non-images
    BEFORE any byte crosses into Arrow.
    """
    import numpy as np

    target = width * height

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    out.append((mid, None, None, None))
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                idx = (np.arange(target) * len(arr)) // target
                out.append((mid, arr[idx].tobytes(), width, height))
            yield pd.DataFrame(out, columns=["media_id", "payload", "width", "height"])

    par = media.sparkSession.sparkContext.defaultParallelism
    return (
        media.filter(F.col("media_type") == "image")
        .select("media_id", "payload")
        .repartition(par)
        .mapInPandas(batches, RESIZED_SCHEMA)
    )


def audio_windows(
    media: DataFrame,
    sample_rate: int = 16000,
    win_samples: int = 16000,
    hop_samples: int = 8000,
) -> DataFrame:
    """Fixed-length overlapping window plan for audio payloads — the
    segmentation every speech/audio feature pipeline (fbank, wav2vec
    chunking) runs first. Payloads are treated as PCM16 mono at
    ``sample_rate`` (n_samples = bytes // 2); the DECODE of window
    contents has no codec here, as for images, but the windowing
    arithmetic, schema, and row fan-out are the real Spark-side
    plumbing.

    Scale design: a pure narrow map — ``sequence`` + ``explode``
    generates each clip's window rows inside the scan stage (the
    corpus_chunk pattern), ZERO shuffles, output bounded by
    total-duration/hop. Clips shorter than one window emit a single
    truncated window (they'd be padded downstream, not dropped).

    Returns ``media_id, window_idx, start_ms, end_ms,
    n_samples_in_window`` for audio-typed media.
    """
    n_samples = (F.octet_length("payload") / 2).cast("long")
    # ceil: the trailing PARTIAL window is emitted (truncated, padded
    # downstream) — floor would silently drop up to hop-1 samples of
    # every clip's tail.
    n_win = F.greatest(
        F.lit(1),
        (
            F.ceil((n_samples - win_samples) / F.lit(hop_samples)) + 1
        ).cast("long"),
    )
    a = media.filter(
        (F.col("media_type") == "audio") & (n_samples > 0)
    ).select(
        "media_id",
        n_samples.alias("__ns"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), n_win - 1)
        ).alias("window_idx"),
    )
    start = F.col("window_idx") * hop_samples
    return a.select(
        "media_id",
        "window_idx",
        (start * 1000 / sample_rate).cast("long").alias("start_ms"),
        ((start + win_samples) * 1000 / sample_rate)
        .cast("long").alias("end_ms"),
        F.least(F.lit(win_samples), F.col("__ns") - start)
        .cast("long").alias("n_samples_in_window"),
    ).orderBy("media_id", "window_idx")
