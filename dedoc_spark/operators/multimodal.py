"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Image decode is REAL (core/image_decode: pure-python PNG with full filter
reversal + uncompressed BMP, numpy pixel stats as the 8-dim feature);
formats beyond the from-scratch decoder (JPEG, video, audio) land in the
``error`` column with a typed message — the same error-channel contract as
the document pipeline, never a crashed task. The reference converts any
image via PIL/cv2 (converters/concrete_converters/png_converter.py:16-39).

Pattern: mapInPandas over (id, media binary, media_type) with per-batch
vectorized decode; oversized media routed like oversized documents
(operators/pipeline.split_oversized).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedoc_spark.operators.pipeline import bootstrapped

MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("error", T.StringType()),
    ]
)


def media_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "media_id",
    type_col: str = "media_type",
) -> DataFrame:
    """Vectorized (Arrow-batched) media feature extraction with the same
    error-channel semantics as the document pipeline."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dedoc_spark.core.image_decode import audio_features
        from dedoc_spark.core.image_decode import image_features as decode

        for pdf in it:
            out = []
            for mid, mtype, data in zip(pdf[id_col], pdf[type_col], pdf[media_col]):
                row = {
                    "media_id": mid,
                    "media_type": mtype,
                    "n_bytes": len(data) if data is not None else 0,
                    "width": None,
                    "height": None,
                    "feature": None,
                    "error": None,
                }
                try:
                    if mtype == "image":
                        w, h, feat = decode(data)
                        row.update(width=w, height=h, feature=feat)
                    elif mtype == "audio":
                        # width/height carry (sample_rate, n_samples) for audio
                        rate, n, feat = audio_features(bytes(data))
                        row.update(width=rate, height=n, feature=feat)
                    else:
                        raise NotImplementedError(f"decode for {mtype} not available")
                except Exception as e:
                    row["error"] = f"{type(e).__name__}: {e}"
                out.append(row)
            yield pd.DataFrame(out, columns=[f.name for f in MEDIA_FEATURES_SCHEMA.fields])

    return df.select(id_col, type_col, media_col).mapInPandas(bootstrapped(fn), MEDIA_FEATURES_SCHEMA)


def image_exif(df: DataFrame, media_col: str = "media", id_col: str = "media_id") -> DataFrame:
    """Per-image EXIF metadata as a map column — REAL extraction (pure-python
    TIFF IFD walk, core/metadata.extract_image_metadata), not a stub; the
    reference's ImageMetadataExtractor field set."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("exif", T.MapType(T.StringType(), T.StringType())),
        ]
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dedoc_spark.core.metadata import extract_image_metadata

        for pdf in it:
            out = []
            for mid, data in zip(pdf[id_col], pdf[media_col]):
                try:
                    exif = extract_image_metadata(bytes(data)) if data is not None else {}
                except Exception:
                    exif = {}
                out.append({id_col: mid, "exif": exif})
            yield pd.DataFrame(out, columns=[id_col, "exif"])

    return df.select(id_col, media_col).mapInPandas(bootstrapped(fn), schema)


def frame_sample_plan(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling *plan*: explode frame indices from metadata so
    each (video, frame) is its own row/task — the decode itself is the stub
    above. Shows the partitioning shape for per-frame fan-out."""
    # n_frames NULL or 0 must emit NOTHING (greatest() skips nulls, and
    # sequence(0,0) is [0] — both would schedule a phantom frame-0 task)
    return df.filter(F.col("n_frames") >= 1).select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))).alias(
            "frame_idx"
        ),
    )


def with_document_metadata(
    df: DataFrame,
    url_col: str = "url",
    payload_col: str = "html",
    params: dict | None = None,
) -> DataFrame:
    """Format-dispatched metadata stage: (url, metadata map) per row — docx
    core.xml, pdf /Info, OLE2 SummaryInformation, image EXIF (§2.12), all
    pure-Python inside one Arrow-batched pass. ``params`` forwards the
    reference parameter surface (return_base64, is_attached)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(url_col, T.StringType()),
            T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
        ]
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dedoc_spark.core.metadata import extract_document_metadata

        for pdf in it:
            out = []
            for url, payload in zip(pdf[url_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else None
                out.append(
                    {url_col: url, "metadata": extract_document_metadata(url, raw, params)}
                )
            yield pd.DataFrame(out, columns=[url_col, "metadata"])

    return df.select(url_col, payload_col).mapInPandas(bootstrapped(fn), schema)


def image_resize(
    df: DataFrame,
    out_w: int,
    out_h: int,
    media_col: str = "media",
    id_col: str = "media_id",
) -> DataFrame:
    """REAL nearest-neighbor image resize over the binary column: decode
    (core/image_decode — PNG/BMP/GIF/JPEG), resize with integer source
    indices (floor(i·in/out) — arithmetic an SQL oracle can rebuild),
    emit the resized buffer's md5 over its lowercase hex (the DuckDB-
    comparable buffer hash discipline, md5(VARCHAR) only). Error-channel
    semantics as everywhere: undecodable media keep a typed error row."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("px_hash", T.StringType()),
            T.StructField("error", T.StringType()),
        ]
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from dedoc_spark.core.image_decode import decode_image, resize_nearest

        for pdf in it:
            out = []
            for mid, data in zip(pdf[id_col], pdf[media_col]):
                row = {"media_id": mid, "width": out_w, "height": out_h, "px_hash": None, "error": None}
                try:
                    _w, _h, rgb = decode_image(bytes(data))
                    resized = resize_nearest(rgb, out_w, out_h)
                    hexbuf = f"{out_w}x{out_h}" + resized.tobytes().hex()
                    row["px_hash"] = hashlib.md5(hexbuf.encode()).hexdigest()
                except Exception as e:
                    # error-channel discipline (media_features): a failed
                    # decode must not claim it produced a sized image
                    row["width"] = None
                    row["height"] = None
                    row["error"] = f"{type(e).__name__}: {e}"
                out.append(row)
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return df.select(id_col, media_col).mapInPandas(bootstrapped(fn), schema)


def gif_frame_sample(
    df: DataFrame,
    every_n: int = 2,
    media_col: str = "media",
    id_col: str = "media_id",
    max_frames: int = 64,
) -> DataFrame:
    """REAL video-style frame sampling for animated GIFs: decode up to
    ``max_frames`` frames (core/image_decode.decode_gif_frames), keep
    every ``every_n``-th, emit one row per sampled frame with its pixel
    hash. Codec video (mp4/avi) has no from-scratch decoder — those rows
    keep the typed error channel, while the Spark-side plumbing (schema,
    per-frame fan-out, batch shape) is identical and real."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("px_hash", T.StringType()),
            T.StructField("error", T.StringType()),
        ]
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from dedoc_spark.core.image_decode import decode_gif_frames

        for pdf in it:
            out = []
            for mid, data in zip(pdf[id_col], pdf[media_col]):
                try:
                    frames = decode_gif_frames(bytes(data), max_frames=max_frames)
                    for idx in range(0, len(frames), every_n):
                        w, h, rgb = frames[idx]
                        hexbuf = f"{w}x{h}" + rgb.tobytes().hex()
                        out.append(
                            {
                                "media_id": mid,
                                "frame_idx": idx,
                                "width": w,
                                "height": h,
                                "px_hash": hashlib.md5(hexbuf.encode()).hexdigest(),
                                "error": None,
                            }
                        )
                except Exception as e:
                    out.append(
                        {
                            "media_id": mid,
                            "frame_idx": None,
                            "width": None,
                            "height": None,
                            "px_hash": None,
                            "error": f"{type(e).__name__}: {e}",
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return df.select(id_col, media_col).mapInPandas(bootstrapped(fn), schema)
