"""Symbol-level sidecar (RIL_SYMBOL) + the .box / UNLV renderers.

The reference walks symbols for .box training files (GetBoxText,
/root/reference/src/api/baseapi.cpp:2391: `char l (H-bottom) r (H-top)
page`, space→'~') and emits UNLV Latin-1 text with '~' reject / '^'
suspect codes (GetUNLVText, baseapi.cpp:2440). These tests pin the kernel's
per-symbol boxes (1:1 with word text, tiling the word box on the render
grid), the distributed sidecar, and both renderer folds.
"""

from __future__ import annotations

import numpy as np

from sparkstract.fixtures.font import GLYPH_H, GLYPH_W
from sparkstract.fixtures.render import PageSpec, Text, render_page
from sparkstract.operators.page import analyse_page


def _flowing(blocks):
    return [b for b in blocks if b.kind == "flowing_text"]


def test_symbol_boxes_on_grid():
    s = 2
    img, _ = render_page(PageSpec(elements=[Text(["FOX DOG"])], scale=s))
    (blk,) = _flowing(analyse_page(img))
    for (_p, _ln, _wn, wtext, wl, wt, _wr, _wb, _conf, syms,
         _lm) in blk.words:
        # 1:1 with the word text, in text order
        assert "".join(c for c, *_ in syms) == wtext
        for i, (_c, sl, st, sr, sb, sconf) in enumerate(syms):
            # chars sit on the 6s pitch grid from the word's left edge
            assert sl == wl + i * 6 * s
            assert sr == sl + GLYPH_W * s - 1
            assert st == wt and sb == st + GLYPH_H * s - 1
            assert sconf == 100  # clean render → exact decode


def test_symbol_confidence_tracks_damage():
    s = 2
    img, _ = render_page(PageSpec(elements=[Text(["FOX"])], scale=s))
    # knock pixels out of the middle glyph's cell: its conf must drop
    # below the others while the word still decodes
    img2 = img.copy()
    img2[16 + 2 * s : 16 + 4 * s, 16 + 6 * s : 16 + 9 * s] = 255
    (blk,) = _flowing(analyse_page(img2))
    (_p, _ln, _wn, wtext, *_rest, syms, _lm) = blk.words[0]
    if wtext == "FOX":  # decode survived the damage
        confs = [c for *_x, c in syms]
        assert confs[1] <= confs[0] and confs[1] <= confs[2]


def test_extract_symbols_matches_words(spark, fixture_set):
    from sparkstract.plans.pipeline import (extract_pages, page_symbols,
                                            page_words)

    docs, media, _ = fixture_set.to_spark(spark)
    pages = extract_pages(spark, docs, media).persist()
    syms = page_symbols(pages)
    words = page_words(pages)
    got = {}
    for r in syms.orderBy("doc_id", "offset", "block_order", "para_num",
                          "line_num", "word_num", "sym_num").collect():
        key = (r.doc_id, r.offset, r.block_order, r.para_num, r.line_num,
               r.word_num)
        got[key] = got.get(key, "") + r.ch
        assert r.page_h > 0
    n = 0
    for w in words.collect():
        key = (w.doc_id, w.offset, w.block_order, w.para_num, w.line_num,
               w.word_num)
        assert got[key] == w.word
        n += 1
    assert n > 50 and len(got) == n
    pages.unpersist()


def test_render_box_format(spark, fixture_set):
    from sparkstract.plans.pipeline import extract_pages, page_symbols
    from sparkstract.sinks import render_box

    docs, media, _ = fixture_set.to_spark(spark)
    syms = page_symbols(extract_pages(spark, docs, media)).persist()
    one = syms.limit(1).collect()[0]
    out = render_box(syms.filter(syms.doc_id == one.doc_id)).collect()
    assert len(out) == 1
    lines = out[0].box.split("\n")
    n_syms = syms.filter(syms.doc_id == one.doc_id).count()
    assert len(lines) == n_syms
    for ln in lines:
        parts = ln.split(" ")
        assert len(parts) == 6 and len(parts[0]) == 1
        _c, l, y1, r, y2, _pg = parts
        # flipped to bottom-left origin: 0 <= y1 < y2 (top above bottom)
        assert 0 <= int(y1) < int(y2) and int(l) < int(r)
    syms.unpersist()


def test_render_unlv_text_and_codes(spark):
    import pandas as pd

    from sparkstract.sinks import render_unlv

    # hand-built symbol rows: two lines, one low-conf char, one non-latin
    # char, one folded char (— → -)
    rows = []
    def sym(bo, ln, wn, sn, ch, conf):
        rows.append(dict(doc_id="d", offset=0, block_order=bo, para_num=0,
                         line_num=ln, word_num=wn, sym_num=sn, ch=ch,
                         media_ref="m", left=0, top=0, right=1, bottom=1,
                         conf=conf, page_h=10))
    for i, c in enumerate("AB"):
        sym(0, 0, 0, i, c, 100)
    sym(0, 0, 1, 0, "C", 40)        # suspect → ^C
    sym(0, 0, 1, 1, "א", 100)  # Hebrew aleph → ~
    sym(0, 1, 0, 0, "—", 100)  # em-dash folds to -
    df = render_unlv(
        __import__("pyspark.sql", fromlist=["SparkSession"]).SparkSession
        .getActiveSession().createDataFrame(pd.DataFrame(rows)))
    got = df.collect()[0].unlv
    assert got == "AB ^C~\n-"
    _ = spark  # fixture keeps the session alive


def test_render_unlv_pins_fixture_text(spark, fixture_set):
    """UNLV of a clean all-Latin fixture page is its plain text with
    single-space word joins and newline lines."""
    from sparkstract.plans.pipeline import (extract, extract_pages,
                                            page_symbols)
    from sparkstract.sinks import render_unlv

    docs, media, _ = fixture_set.to_spark(spark)
    did = "d-ragged_page"
    syms = page_symbols(
        extract_pages(spark, docs.filter(docs.doc_id == did), media))
    unlv = render_unlv(syms).collect()[0].unlv
    spans = extract(spark, docs.filter(docs.doc_id == did), media) \
        .orderBy("order").collect()
    texts = "\n".join(s.text for s in spans if s.text)
    # every UNLV line is a line of the extracted text (order may interleave
    # blocks the same way — the fold walks the same keys)
    assert set(unlv.split("\n")) <= set(texts.split("\n"))
    assert unlv.count("\n") >= 3 and "~" not in unlv and "^" not in unlv
