"""Word-level hierarchy (S5/S7 renderer depth) + wired paragraph detection.

The reference emits page→block→para→line→word rows (GetTSVText,
/root/reference/src/api/baseapi.cpp:2205) and runs DetectParagraphs inside
every Recognize (baseapi.cpp:1417). These tests pin the kernel's word table:
numbering, boxes on the render grid, paragraph splits, and RTL logical order.
"""

from __future__ import annotations

import numpy as np

from sparkstract.fixtures.font import CELL_W, GLYPH_H, GLYPH_W
from sparkstract.fixtures.gen import page_spec
from sparkstract.fixtures.render import PageSpec, Text, render_page
from sparkstract.operators.page import analyse_page


def _flowing(blocks):
    return [b for b in blocks if b.kind == "flowing_text"]


def test_word_boxes_on_grid():
    s = 2
    img, _ = render_page(PageSpec(elements=[Text(["FOX DOG", "CAT A"])],
                                  scale=s))
    (blk,) = _flowing(analyse_page(img))
    words = [(w[3], w[4], w[6]) for w in blk.words]
    # margin 8s=16, char pitch 6s=12, glyph width 5s=10
    assert words[0] == ("FOX", 16, 16 + 2 * 12 + 10 - 1)
    assert words[1] == ("DOG", 16 + 4 * 12, 16 + 4 * 12 + 2 * 12 + 10 - 1)
    # numbering: (para, line, word)
    assert [(w[0], w[1], w[2]) for w in blk.words] == [
        (0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1)]
    # vertical extent = the glyph band of each row
    assert blk.words[0][5] == 16 and blk.words[0][7] == 16 + GLYPH_H * s - 1
    # exact decode → full confidence
    assert all(w[8] == 100 for w in blk.words)


def test_paragraph_split_para_page():
    rng = np.random.default_rng(7)
    img, truth = render_page(page_spec("para_page", rng))
    (blk,) = _flowing(analyse_page(img))
    # block text is the stripped truth (indentation is geometry, not text)
    assert blk.text == truth[0].text
    paras = {}
    for (p, ln, _wn, *_rest) in blk.words:
        paras.setdefault(p, set()).add(ln)
    # classic first-line-indent model: rows [0,0,0,1,1]
    assert sorted(paras) == [0, 1]
    assert paras[0] == {0, 1, 2} and paras[1] == {0, 1}


def test_rtl_words_logical_order():
    img, _ = render_page(PageSpec(
        elements=[Text(["אב FOX גד"])], scale=2, width_chars=12, rtl=True))
    (blk,) = [b for b in analyse_page(img, rtl=True)
              if b.kind == "flowing_text"]
    # logical bidi order: tail-first with the LTR run kept LTR
    assert blk.text == "גד FOX אב"
    texts = [w[3] for w in blk.words]
    assert texts == ["גד", "FOX", "אב"]
    # word_num follows logical order; boxes stay positional (גד is the
    # rightmost ink on the page)
    assert [w[2] for w in blk.words] == [0, 1, 2]
    assert blk.words[0][4] > blk.words[2][4]


def test_indent_derived_from_geometry():
    # an indented first line shifts the row's left edge by whole char cells
    s = 2
    img, _ = render_page(PageSpec(
        elements=[Text(["  AB CD", "EF GH I", "JK LM"],
                       truth_lines=["AB CD", "EF GH I", "JK LM"])],
        scale=s, width_chars=9))
    (blk,) = _flowing(analyse_page(img))
    first = [w for w in blk.words if w[1] == 0 and w[0] == 0]
    assert first[0][4] == 16 + 2 * CELL_W * s  # margin + 2-cell indent
    assert first[0][6] - first[0][4] + 1 >= GLYPH_W * s


def test_non_text_blocks_carry_no_words():
    rng = np.random.default_rng(3)
    img, _ = render_page(page_spec("interleaved_order", rng))
    blocks = analyse_page(img)
    for b in blocks:
        if b.kind in ("flowing_image", "pullout_image", "horz_line",
                      "vert_line"):
            assert b.words is None
        elif b.kind in ("flowing_text", "heading_text", "caption_text"):
            assert b.words, b.kind
            # every word appears in the block text
            for w in b.words:
                assert w[3] in b.text


def test_zone_override_words(spark):
    """S10 zone-override pages carry the word hierarchy too: boxes restored
    to page coordinates, inner sub-blocks numbered as paragraphs."""
    from sparkstract.fixtures.gen import DOCS_SCHEMA, MEDIA_SCHEMA
    from sparkstract.fixtures.render import PageSpec, Text, render_page
    from sparkstract.functions.png import encode_gray
    from sparkstract.plans.pipeline import (ZONES_SCHEMA, extract_pages,
                                            page_words)

    img, _ = render_page(PageSpec(elements=[Text(["FOX DOG", "CAT RAT"])],
                                  scale=2))
    h, w = img.shape
    docs = spark.createDataFrame(
        [("dz", [dict(kind="media", text=None, media_ref="mz", offset=0)])],
        DOCS_SCHEMA)
    media = spark.createDataFrame([("mz", w, h, encode_gray(img))],
                                  MEDIA_SCHEMA)
    zones = spark.createDataFrame(
        [("mz", [dict(left=0, top=0, right=w - 1, bottom=h - 1,
                      kind="flowing_text")])], ZONES_SCHEMA)
    rows = page_words(extract_pages(spark, docs, media, zones=zones)) \
        .orderBy("line_num", "word_num").collect()
    assert [r["word"] for r in rows] == ["FOX", "DOG", "CAT", "RAT"]
    # page coordinates: margin 8s = 16
    assert rows[0]["left"] == 16 and rows[0]["top"] == 16
