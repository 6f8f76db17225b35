"""Media metadata operators: image, audio and video as page refs.

A media row is an opaque ``media_ref`` plus a typed ``meta`` struct (width,
height, dpi, byte size, duration).  Every operator here works from that
metadata alone — per-doc size/megapixel aggregates, the megapixel
histogram, video frame-sampling plans — and never reads pixels: decoding
images is the OCR step, outside this engine.

Reference tie-in: the OCR engine treats page images exactly this way — an
opaque ref plus metadata (``lib/odem/processing/image.py:21-34`` computes
megapixels/DPI from metadata, never pixels, at planning time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("dpi", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


def megapixels(meta: F.Column) -> F.Column:
    """planning-time metadata math (reference image.py:21-34)."""
    return F.round(meta["width"] * meta["height"] / F.lit(1_000_000.0), 2)


def media_stats(media: DataFrame) -> DataFrame:
    """A2 analogue: per-doc media size/megapixel aggregates from metadata."""
    return media.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_media"),
        F.round(F.sum(F.col("meta.n_bytes")) / F.lit(1024.0 * 1024), 2).alias("mb"),
        F.round(F.sum(megapixels(F.col("meta"))), 2).alias("mps"),
    )


def megapixel_histogram(media: DataFrame) -> DataFrame:
    """A2's megapixel histogram (reference ``np.unique(return_counts=True)``
    over rounded MPs, ``odem_process_impl.py:354-380``) as a groupBy."""
    return (
        media.select(F.round(megapixels(F.col("meta")), 1).alias("mps"))
        .groupBy("mps")
        .agg(F.count("*").cast("long").alias("n"))
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per planned frame, with timestamps
    every ``every_ms`` derived from ``meta.duration_ms`` (metadata only; at
    least one frame per video)."""
    n = F.greatest((F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(1))
    return media.where(F.col("mime").startswith("video/")).select(
        "media_id",
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n - 1), lambda i: (i * every_ms).cast("long")
            )
        ).alias("frame_ts_ms"),
    )
