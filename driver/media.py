"""Media-table queries over the fixture media column: per-image
features, thumbnails and the decode-path report. Their oracles are one
local sniff + decode pass over the same media."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driver.common import fixture_frames, fixture_set, query, sql_quote


@functools.lru_cache(maxsize=1)
def _media_values() -> tuple[str, str, str]:
    """The VALUES rows of image_features, thumbnails and
    media_decode_report from one single-process pass over the fixture
    media: features and thumb dims of every raster that decodes, and the
    (format, decode shape) counts of the same sniff + decode +
    shape-counter loop the distributed kernel runs
    (operators/multimodal.py)."""
    import numpy as np

    from sparkstract.functions import webp
    from sparkstract.functions.cclabel import label_blobs
    from sparkstract.functions.codecs import decode_gray_any, sniff
    from sparkstract.functions.otsu import binarize, otsu_threshold

    feats: list[str] = []
    thumbs: list[str] = []
    counts: dict[tuple[str, str], int] = {}
    for r in fixture_set().media.itertuples():
        data = bytes(r.image)
        fmt = sniff(data)
        webp.SHAPE_COUNTS.clear()
        try:
            gray = decode_gray_any(data)
        except Exception as e:  # noqa: BLE001 — counted, not raised
            shape = f"error: {str(e)[:60]}"
        else:
            shape = next(iter(webp.SHAPE_COUNTS), "") if fmt == "webp" else ""
            ink = binarize(gray)
            feats.append(
                f"('{r.media_ref}', {gray.shape[1]}, {gray.shape[0]}, "
                f"{round(float(ink.mean()), 6)}, {int(otsu_threshold(gray))}, "
                f"{len(label_blobs(ink))})")
            f = max(1, int(np.ceil(max(gray.shape) / 64)))
            thumbs.append(f"('{r.media_ref}', {gray.shape[1] // f}, "
                          f"{gray.shape[0] // f})")
        counts[(fmt, shape)] = counts.get((fmt, shape), 0) + 1
    report = [f"({sql_quote(f)}, {sql_quote(sh)}, {n})"
              for (f, sh), n in sorted(counts.items())]
    return ",\n".join(feats), ",\n".join(thumbs), ",\n".join(report)


@query("image_features", lambda: f"""
            SELECT * FROM (VALUES
            {_media_values()[0]}
            ) AS t(media_ref, width, height, ink_ratio, otsu_threshold,
                   n_components)
            ORDER BY media_ref
        """)
def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decodes every fixture page image and emits per-image features.
    Oracle: VALUES literal from the same numpy kernels run single-process
    (PNG decode is not SQL-expressible; the fixture set is deterministic, so
    the features are constants). ink_ratio rounded to 6 dp in both engines."""
    from sparkstract.operators.multimodal import image_features

    _docs, media, _ = fixture_frames(spark)
    return image_features(media).select(
        "media_ref", "width", "height",
        F.round("ink_ratio", 6).alias("ink_ratio"),
        "otsu_threshold", "n_components",
    ).orderBy("media_ref")


@query("thumbnails", lambda: f"""
            SELECT * FROM (VALUES
            {_media_values()[1]}
            ) AS t(media_ref, thumb_w, thumb_h)
            ORDER BY media_ref
        """)
def q_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-mean downsample + PNG re-encode per image. Oracle: thumb dims
    are pure arithmetic on the fixture media dimensions — a VALUES literal
    independent of the decode path entirely."""
    from sparkstract.operators.multimodal import thumbnails

    _docs, media, _ = fixture_frames(spark)
    return thumbnails(media).select("media_ref", "thumb_w", "thumb_h").orderBy("media_ref")


@query("media_decode_report", lambda: f"""
            SELECT format, shape, CAST(n AS BIGINT) AS n FROM (VALUES
            {_media_values()[2]}
            ) AS t(format, shape, n)
            ORDER BY format, shape
        """)
def q_media_decode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-path telemetry over the fixture media column: one row per
    (container format, decode shape) with counts — the VP8L fast-vs-generic
    shape counters and per-format error rows that make a hostile crawl
    segment a NUMBER instead of an unexplained slowdown. Oracle: VALUES
    literal from the identical sniff+decode loop run single-process."""
    from sparkstract.operators.multimodal import media_decode_report

    _docs, media, _ = fixture_frames(spark)
    return media_decode_report(media).orderBy("format", "shape")

