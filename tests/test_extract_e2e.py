"""Full-pipeline span-sequence equality — the north-rule invariant
(kind, text, media_ref, order) per doc, exact (FIXTURES.md oracle)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkstract.config import ExtractConfig
from sparkstract.plans.pipeline import analyse_layout, extract, reassemble_docs


@pytest.fixture(scope="module")
def extracted(spark, fixture_set):
    docs, media, truth = fixture_set.to_spark(spark)
    res = extract(spark, docs, media).toPandas()
    want = truth.toPandas()
    return res, want


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    return (
        df[["doc_id", "order", "kind", "text", "media_ref"]]
        .fillna({"text": "", "media_ref": ""})
        .sort_values(["doc_id", "order"])
        .reset_index(drop=True)
    )


def test_span_sequence_equality(extracted):
    got, want = extracted
    pd.testing.assert_frame_equal(_norm(got), _norm(want))


def test_every_doc_covered(extracted, fixture_set):
    got, _ = extracted
    assert set(got["doc_id"]) == set(fixture_set.docs["doc_id"])


def test_order_dense_per_doc(extracted):
    got, _ = extracted
    for doc_id, grp in got.groupby("doc_id"):
        assert sorted(grp["order"]) == list(range(len(grp))), doc_id


def test_skew_doc_exact(extracted, fixture_set):
    """F10: the 64-media doc — salted (doc_id, offset) work split must still
    reassemble the doc exactly."""
    got, want = extracted
    g = _norm(got[got["doc_id"] == "d-skew"])
    w = _norm(want[want["doc_id"] == "d-skew"])
    assert len(g) == 64 + 0  # 64 single_column pages, one block each
    pd.testing.assert_frame_equal(g, w)


def test_empty_page_keeps_passthrough(extracted):
    got, _ = extracted
    g = got[got["doc_id"] == "d-empty_page"].sort_values("order")
    # media span contributed nothing; the two text spans survive, densely
    assert list(g["kind"]) == ["text", "text"]
    assert list(g["order"]) == [0, 1]


def test_analyse_layout_no_text(spark, fixture_set):
    docs, media, _ = fixture_set.to_spark(spark)
    docs = docs.filter(F.col("doc_id") == "d-single_column")
    res = analyse_layout(spark, docs, media).toPandas()
    ext = res[res["kind"] != "text"]
    assert len(ext) > 0
    assert ext["text"].isna().all()
    assert list(ext["kind"]) == ["flowing_text"]  # kinds still classified


def test_reassemble_docs_shape(spark, fixture_set):
    docs, media, _ = fixture_set.to_spark(spark)
    docs = docs.filter(F.col("doc_id") == "d-multi")
    spans = extract(spark, docs, media)
    folded = reassemble_docs(spans).collect()
    assert len(folded) == 1
    arr = folded[0]["spans"]
    assert [s["order"] for s in arr] == list(range(len(arr)))


def test_explicit_work_partitions(spark, fixture_set):
    """The spans do not depend on how the page work is partitioned: one
    partition, one per core slot (the default 0) and more than the cores."""
    docs, media, truth = fixture_set.to_spark(spark)
    want = _norm(truth.toPandas())
    for n in (1, 0, 16):
        res = extract(spark, docs, media,
                      ExtractConfig(work_partitions=n)).toPandas()
        pd.testing.assert_frame_equal(_norm(res), want)


def test_crop_restricts_extraction(spark):
    """S3 SetRectangle: cropping to the top part of a ruled page keeps only
    the first text block (baseapi.cpp:949 semantics)."""
    import numpy as np

    from sparkstract.config import ExtractConfig
    from sparkstract.fixtures.gen import _Builder
    from sparkstract.plans.pipeline import extract

    b = _Builder(seed=99)
    b.add_doc("d-crop", [("media", "ruled_page")])
    fs = b.build()
    docs, media, truth = fs.to_spark(spark)

    full = extract(spark, docs, media).collect()
    assert [r["kind"] for r in sorted(full, key=lambda r: r["order"])] == [
        "flowing_text", "horz_line", "flowing_text"]

    # crop to everything above the rule: decode the page to find the rule y
    from sparkstract.functions.png import decode_gray
    img = decode_gray(bytes(fs.media["image"][0]))
    row_is_rule = (img < 128).mean(axis=1) > 0.8
    rule_top = int(np.nonzero(row_is_rule)[0].min())
    cropped = extract(spark, docs, media,
                      ExtractConfig(crop=(0, 0, img.shape[1], rule_top - 2)))
    rows = sorted(cropped.collect(), key=lambda r: r["order"])
    assert [r["kind"] for r in rows] == ["flowing_text"]
    first_truth = [r for r in sorted(full, key=lambda r: r["order"])][0]
    assert rows[0]["text"] == first_truth["text"]


def test_crop_geometry_in_original_coordinates(spark):
    """S3 SetRectangle reports block boxes in ORIGINAL-image coordinates:
    the reference adds rect_left_/rect_top_ back on every BoundingBox call
    (pageiterator.cpp:366), so cropped output must line up with uncropped."""
    from sparkstract.config import ExtractConfig
    from sparkstract.fixtures.gen import _Builder
    from sparkstract.functions.png import decode_gray
    from sparkstract.plans.pipeline import extract_blocks

    b = _Builder(seed=99)
    b.add_doc("d-cropgeo", [("media", "single_column")])
    fs = b.build()
    docs, media, _ = fs.to_spark(spark)

    full = extract_blocks(spark, docs, media).collect()
    assert len(full) == 1
    blk = full[0]

    # crop with a non-zero origin that still contains the whole text block
    img = decode_gray(bytes(fs.media["image"][0]))
    cl, ct = blk["left"] - 4, blk["top"] - 4
    cropped = extract_blocks(
        spark, docs, media,
        ExtractConfig(crop=(cl, ct, img.shape[1], img.shape[0]))).collect()
    assert len(cropped) == 1
    got = cropped[0]
    assert got["text"] == blk["text"]
    assert (got["left"], got["top"], got["right"], got["bottom"]) == \
        (blk["left"], blk["top"], blk["right"], blk["bottom"])


def test_extract_blocks_geometry(spark, fixture_set):
    """extract_blocks exposes per-block bounding boxes (reference TSV/hOCR
    level): kinds mirror the span truth and the geometry obeys the layout
    invariants of layout_test.cc:122 (caption below image, boxes in-page)."""
    from sparkstract.plans.pipeline import extract_blocks

    docs, media, truth = fixture_set.to_spark(spark)
    docs = docs.filter(F.col("doc_id") == "d-interleaved_order")
    got = extract_blocks(spark, docs, media).toPandas() \
        .sort_values("block_order").reset_index(drop=True)
    want = truth.toPandas()
    want = want[(want["doc_id"] == "d-interleaved_order")
                & (want["kind"] != "text")].reset_index(drop=True)
    assert list(got["kind"]) == list(want["kind"])
    assert (got["right"] >= got["left"]).all()
    assert (got["bottom"] >= got["top"]).all()
    assert (got[["left", "top"]] >= 0).all().all()
    img = got[got["kind"] == "pullout_image"].iloc[0]
    cap = got[got["kind"] == "caption_text"].iloc[0]
    assert cap["top"] > img["bottom"]  # caption attaches BELOW its image
    # heading spans the page top: first in reading order and highest box
    assert got.iloc[0]["kind"] == "heading_text"
    assert got["top"].idxmin() == 0


def test_big_media_shuffle_join_path(spark, fixture_set):
    """broadcast_media_max_rows=0 forces the production big-media plan (hash
    join on media_ref, salt AFTER the join) — results must be identical to
    the broadcast path."""
    docs, media, truth = fixture_set.to_spark(spark)
    res = extract(spark, docs, media,
                  ExtractConfig(broadcast_media_max_rows=0)).toPandas()
    pd.testing.assert_frame_equal(_norm(res), _norm(truth.toPandas()))
