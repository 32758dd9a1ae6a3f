"""Renderer/truth self-consistency + page-kernel correctness per family
(no Spark — the pure analog of the reference's layout_test.cc)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from sparkstract.fixtures.gen import PAGE_FAMILIES, build_fixtures, page_spec
from sparkstract.fixtures.render import render_page
from sparkstract.operators.page import analyse_page


def test_fixture_set_deterministic():
    a = build_fixtures(seed=42)
    b = build_fixtures(seed=42)
    pd.testing.assert_frame_equal(a.docs, b.docs)
    pd.testing.assert_frame_equal(a.media, b.media)
    pd.testing.assert_frame_equal(a.truth, b.truth)


@pytest.mark.parametrize("family", PAGE_FAMILIES)
def test_page_analysis_matches_truth(family):
    rng = np.random.default_rng(7)
    for _ in range(3):  # several random variants per family
        spec = page_spec(family, rng)
        img, truth = render_page(spec)
        blocks = analyse_page(img)
        got = [(b.kind, b.text) for b in blocks]
        want = [(t.kind, t.text) for t in truth]
        assert got == want, f"{family}: {got} != {want}"


def test_block_order_is_dense():
    rng = np.random.default_rng(3)
    spec = page_spec("interleaved_order", rng)
    img, _ = render_page(spec)
    blocks = analyse_page(img)
    assert [b.order for b in blocks] == list(range(len(blocks)))


def test_interleaved_kind_sequence():
    """The layout_test.cc:53-55 pin: heading, flowing, pullout-image,
    caption, flowing — in that order."""
    rng = np.random.default_rng(11)
    spec = page_spec("interleaved_order", rng)
    img, _ = render_page(spec)
    kinds = [b.kind for b in analyse_page(img)]
    assert kinds == ["heading_text", "flowing_text", "pullout_image",
                     "caption_text", "flowing_text"]


def test_truth_order_dense_per_doc():
    fs = build_fixtures(seed=42)
    for doc_id, grp in fs.truth.groupby("doc_id"):
        assert sorted(grp["order"]) == list(range(len(grp))), doc_id


def test_rgb_png_family_tint_luma_exact():
    """The rgb_png_page tint must be EXACT under integer BT.601 luma for
    every pixel (a sub-range tint that wraps in uint8 brightens ink and
    only survives by Otsu's mercy — caught in round 3)."""
    import numpy as np

    from sparkstract.fixtures.gen import _Builder
    from sparkstract.functions.png import decode_gray
    from sparkstract.functions.raster import luma

    b = _Builder(seed=7)
    ref, _blocks = b.add_page("rgb_png_page")
    payload = b.media[-1]["image"]
    gray = decode_gray(payload)
    # identical tint reconstruction: luma(y+29, y, y-77) == y exactly
    assert gray.min() >= 77 and gray.max() <= 226
    from sparkstract.fixtures.encoders.png import encode_rgb  # noqa: F401
    # decode path == direct luma of the stored RGB (consistency)
    assert (luma(np.stack([gray + 29, gray, gray - 77],
                          axis=2).astype(np.uint8)) == gray).all()
