"""Multimodal column plumbing: opaque binary media + typed metadata.

Image lanes over the media column: pixel features, thumbnails and a
decode-path report. Undecodable media is skipped (features, thumbnails) or
counted (the report), never raised — these lanes run over untrusted bytes.

Reference parity: SetImage ingests any raster (/root/reference/src/api/
baseapi.cpp:906); thumbnail/rescale mirrors the source-resolution upscale
path (baseapi.cpp:924) and pyramid use in imagefind.cpp.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

IMAGE_FEATURES_SCHEMA = (
    "media_ref string, width int, height int, ink_ratio double, "
    "otsu_threshold int, n_components int"
)

THUMBNAIL_SCHEMA = "media_ref string, thumb_w int, thumb_h int, thumb binary"


def image_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract each page image: dimensions, ink coverage,
    Otsu threshold, connected-component count. Vectorized per page inside an
    Arrow batch; one pass over the binary column."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.cclabel import label_blobs
        from ..functions.codecs import decode_gray_any
        from ..functions.otsu import binarize, otsu_threshold

        for pdf in batches:
            out = {k: [] for k in ("media_ref", "width", "height", "ink_ratio",
                                   "otsu_threshold", "n_components")}
            for ref, png in zip(pdf["media_ref"], pdf["image"]):
                try:
                    gray = decode_gray_any(bytes(png))
                except Exception:  # noqa: BLE001 — corrupt media is data
                    continue  # non-raster (PDF) or corrupt media carries no
                    # pixel features — PDFs parse at the pipeline seam
                ink = binarize(gray)
                out["media_ref"].append(ref)
                out["width"].append(gray.shape[1])
                out["height"].append(gray.shape[0])
                out["ink_ratio"].append(float(ink.mean()))
                out["otsu_threshold"].append(otsu_threshold(gray))
                out["n_components"].append(len(label_blobs(ink)))
            yield pd.DataFrame(out)

    return media.select("media_ref", "image").mapInPandas(
        kernel, schema=IMAGE_FEATURES_SCHEMA)


def thumbnails(media: DataFrame, max_side: int = 64) -> DataFrame:
    """Integer-factor downsample (block mean) re-encoded as PNG."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.codecs import decode_gray_any
        from ..functions.png import encode_gray

        for pdf in batches:
            out = {k: [] for k in ("media_ref", "thumb_w", "thumb_h", "thumb")}
            for ref, png in zip(pdf["media_ref"], pdf["image"]):
                try:
                    gray = decode_gray_any(bytes(png))
                except Exception:  # noqa: BLE001 — corrupt media is data
                    continue  # non-raster or corrupt media: no thumbnail
                h, w = gray.shape
                f = max(1, int(np.ceil(max(h, w) / max_side)))
                th, tw = h // f, w // f
                thumb = gray[: th * f, : tw * f].reshape(th, f, tw, f).mean(
                    axis=(1, 3)).astype(np.uint8)
                out["media_ref"].append(ref)
                out["thumb_w"].append(tw)
                out["thumb_h"].append(th)
                out["thumb"].append(encode_gray(thumb))
            yield pd.DataFrame(out)

    return media.select("media_ref", "image").mapInPandas(
        kernel, schema=THUMBNAIL_SCHEMA)


DECODE_REPORT_SCHEMA = "format string, shape string, n long"


def media_decode_report(media: DataFrame) -> DataFrame:
    """Decode-path telemetry over a media column: one row per (container
    format, decode shape) with counts. For VP8L the shape is which entropy-
    decode path ran ("fast" bit-buffer loop vs the ~6x-slower per-pixel
    "generic"/"meta"/"cache" fallbacks) — a hostile crawl segment whose
    streams all dodge the fast loop shows up here as a number, not as an
    unexplained slowdown. Decode errors are counted, never raised (this is
    the diagnostics lane over untrusted bytes). Map-side per-partition
    counts, one tiny groupBy — scales like any counting aggregate."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import webp
        from ..functions.codecs import decode_gray_any, sniff

        for pdf in batches:
            counts: dict[tuple[str, str], int] = {}
            for blob in pdf["image"]:
                data = bytes(blob)
                fmt = sniff(data)
                webp.SHAPE_COUNTS.clear()
                try:
                    decode_gray_any(data)
                    shape = next(iter(webp.SHAPE_COUNTS), "") \
                        if fmt == "webp" else ""
                except Exception as e:  # noqa: BLE001 — counted, not raised
                    shape = f"error: {str(e)[:60]}"
                key = (fmt, shape)
                counts[key] = counts.get(key, 0) + 1
            yield pd.DataFrame(
                [(f, s, n) for (f, s), n in counts.items()],
                columns=["format", "shape", "n"])

    import pyspark.sql.functions as F

    return (media.select("image").mapInPandas(kernel,
                                              schema=DECODE_REPORT_SCHEMA)
            .groupBy("format", "shape").agg(F.sum("n").alias("n")))
