"""Fixture-family generator: docs / media / truth tables (FIXTURES.md).

Each family mirrors a reference test (citations in FIXTURES.md §families).
The same machinery scales up for the bench corpus: `generate_corpus` mixes
families with a deliberately skewed media-heavy doc (F10, axis B).

Tables (pandas; `to_spark` converts with explicit schemas):
  docs(doc_id, spans[list[dict(kind,text,media_ref,offset)]])
  media(media_ref, width, height, image[PNG bytes])
  truth(doc_id, order, kind, text, media_ref)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from ..functions.png import encode_gray
from ..sources.docs import DOCS_SCHEMA, MEDIA_SCHEMA
from .render import (
    DiscImage,
    ImageRect,
    LeaderLine,
    MixedText,
    PageSpec,
    Rule,
    TableGrid,
    Text,
    TexturedImage,
    VerticalText,
    render_page,
)

# the generator's vocabulary IS the kernel's dictionary (the Dawg seam,
# K4 — see fixtures/lexicon.py): real Tesseract likewise recognizes with
# the wordlist its language pack shipped
from .lexicon import WORDS as _VOCAB  # noqa: E402

TRUTH_SCHEMA = "doc_id string, order int, kind string, text string, media_ref string"


def _lines(rng: np.random.Generator, n_lines: int, max_chars: int) -> list[str]:
    out = []
    for _ in range(n_lines):
        words: list[str] = []
        while True:
            w = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            need = len(w) if not words else len(w) + 1
            if sum(len(x) for x in words) + len(words) + need > max_chars:
                break
            words.append(w)
        if not words:
            words = ["A"]
        out.append(" ".join(words))
    return out


def page_spec(family: str, rng: np.random.Generator) -> PageSpec:
    """Deterministic page spec per fixture family (FIXTURES.md table)."""
    if family in ("tiff_page", "tiff_multipage", "pnm_page", "bmp_page",
                  "jpeg_page", "exif_tiff_page", "exif_jpeg_page",
                  "pdf_page", "pdf_scanned_page", "pdf_two_column_page",
                  "rgb_png_page", "gif_page", "progressive_jpeg_page",
                  "pdf_modern_page", "pdf_cid_page", "pdf_searchable_page",
                  "g4_tiff_page", "pdf_rotated_page",
                  "pdf_inline_image_page", "webp_page",
                  "pdf_encrypted_page", "cmyk_jpeg_page",
                  "pdf_ccitt_page", "tiled_tiff_page",
                  "interlaced_png_page", "pdf_aes_page",
                  "pdf_aes256_page", "webp_lossy_page",
                  "webp_vp8x_page", "webp_anim_page", "pdf_jbig2_page",
                  "pdf_jbig2_arith_page", "pdf_jbig2_text_page",
                  "pdf_jpx_page", "jp2_page", "jp2_bypass_page",
                  "jpeg_tiff_page", "webp_alpha_page",
                  "pdf_jbig2_huff_page", "pdf_stencil_page",
                  "pdf_jbig2_halftone_page", "ico_page"):
        # container-level families: the page CONTENT is a plain spec — the
        # packaging (TIFF LZW / multipage IFD chain / PGM / BMP) happens in
        # _Builder.add_page, where the encoder choice lives
        return page_spec("single_column", rng)
    seed = int(rng.integers(0, 2**31))
    if family == "single_column":  # F01 — baseapi_test.cc:74 golden text
        return PageSpec(elements=[Text(_lines(rng, 4, 16))], scale=2, seed=seed)
    if family == "two_column":  # F02 — colfind.cpp:605 column finding
        return PageSpec(
            elements=[Text(_lines(rng, 3, 14), col=0), Text(_lines(rng, 3, 14), col=1)],
            n_cols=2, scale=2, width_chars=15, seed=seed)
    if family == "interleaved_order":  # F03 — layout_test.cc:53 type sequence
        return PageSpec(elements=[
            Text(_lines(rng, 1, 8), role="heading", col=None),
            Text(_lines(rng, 2, 16), col=0),
            ImageRect(h_units=50, w_frac=0.5, col=0),
            Text(_lines(rng, 1, 16), role="caption", col=0),
            Text(_lines(rng, 2, 16), col=0),
        ], scale=2, seed=seed)
    if family == "image_only":  # F04 — GetUTF8Text image skip baseapi.cpp:2107
        return PageSpec(elements=[ImageRect(full_page=True, col=0)], scale=2, seed=seed)
    if family == "grid_2x2":  # F05 — layout_test.cc:122 rough order
        return PageSpec(elements=[
            Text(_lines(rng, 2, 12), col=0), Text(_lines(rng, 4, 12), col=0),
            Text(_lines(rng, 3, 12), col=1), Text(_lines(rng, 1, 12), col=1),
        ], n_cols=2, scale=2, width_chars=13, seed=seed)
    if family == "paragraphs":  # F06 — paragraphs_test.cc (v1: blocks by gap)
        return PageSpec(elements=[
            Text(_lines(rng, 2, 16), col=0),
            Text(_lines(rng, 3, 16), col=0),
            Text(_lines(rng, 2, 16), col=0),
        ], scale=2, seed=seed)
    if family == "noise_page":  # F07 — tordmain.cpp:287 noise filtering
        return PageSpec(elements=[Text(_lines(rng, 4, 16))], scale=2,
                        noise_frac=0.0002 * 100, seed=seed)
    if family == "empty_page":  # F08 — baseapi.cpp:1333 empty exit
        return PageSpec(elements=[], scale=2, seed=seed)
    if family == "ruled_page":  # F11 — rule find/remove, linefind.cpp:706
        return PageSpec(elements=[
            Text(_lines(rng, 2, 16), col=0),
            Rule(col=0),
            Text(_lines(rng, 2, 16), col=0),
        ], scale=2, seed=seed)
    if family == "contents_page":  # F17 — leader detection, strokewidth.cpp:260
        short = [w for w in _VOCAB if len(w) <= 6]
        lines = [
            LeaderLine(short[int(rng.integers(0, len(short)))],
                       str(int(rng.integers(1, 99))), col=0)
            for _ in range(2)
        ]
        return PageSpec(
            elements=[Text(_lines(rng, 1, 16), col=0), *lines,
                      Text(_lines(rng, 1, 16), col=0)],
            scale=2, seed=seed)
    if family == "gradient_page":  # F16 — background normalize, thresholder.cpp:454
        return PageSpec(elements=[Text(_lines(rng, 4, 16))], scale=2,
                        gradient_depth=115, seed=seed)
    if family == "textured_photo":  # F15 — non-text density mask, ccnontextdetect.cpp:88
        return PageSpec(elements=[
            Text(_lines(rng, 2, 16), col=0),
            TexturedImage(h_units=50, w_frac=0.5, col=0),
            Text(_lines(rng, 2, 16), col=0),
        ], scale=2, seed=seed)
    if family == "rotated_page":  # F14 — OSD, osdetect.cpp:239
        return PageSpec(elements=[Text(_lines(rng, 3, 16))], scale=2,
                        rot90=int(rng.integers(1, 4)), seed=seed)
    if family == "skewed_page":  # F13 — deskew, tabfind.cpp:1291
        return PageSpec(elements=[Text(_lines(rng, 4, 16))], scale=3,
                        skew_deg=float(rng.uniform(-2.0, 2.0)), seed=seed)
    if family == "table_page":  # F12 — table detection, tablefind.cpp:200;
        # cell structure (C8 v2, tablerecog.cpp): the middle column carries a
        # MULTI-word cell, so the cell/word distinction is real — the intra-
        # cell space gap must stay one cell, the aligned table gaps must split
        short = [w for w in _VOCAB if len(w) <= 5]
        cells = [
            [short[int(rng.integers(0, len(short)))] for _ in range(3)]
            for _ in range(3)
        ]
        cells[1][1] = (short[int(rng.integers(0, len(short)))] + " "
                       + short[int(rng.integers(0, len(short)))])
        return PageSpec(elements=[
            Text(_lines(rng, 1, 24), col=0),
            TableGrid(cells=cells, col_chars=[6, 13, 6], col=0),
        ], scale=2, width_chars=34, seed=seed)
    if family == "spanned_table_page":  # F45 — merged-cell table structure
        # (C8 v3, src/textord/tablerecog.cpp:62 StructuredTable): a 2-cell
        # header whose first cell SPANS body columns 0-1 sits at normal
        # line pitch over a 3-column body. The header has only ONE aligned
        # gap (< TABLE_MIN_GAPS), so run formation alone would exile it to
        # flowing text — only the spanned-row absorption (gaps ⊂ grid,
        # x-contained, block-pitch-adjacent) pulls it into the table.
        short = [w for w in _VOCAB if len(w) <= 5]
        pick = lambda: short[int(rng.integers(0, len(short)))]  # noqa: E731
        cells = [["REPORT", "X9"]] + [[pick(), pick(), pick()]
                                      for _ in range(3)]
        layout = [[(0, 2), (2, 1)]] + [[(0, 1), (1, 1), (2, 1)]] * 3
        return PageSpec(elements=[
            Text(_lines(rng, 1, 24), col=0),
            TableGrid(cells=cells, col_chars=[6, 6, 6], layout=layout,
                      col=0),
            Text(_lines(rng, 1, 24), col=0),
        ], scale=2, width_chars=27, seed=seed)
    if family == "equation_page":  # F18 — equation detection, equationdetect.cpp:132
        eqs = ["X = Y + 2", "E = M C 2", "A + B = C - 1", "2 + 2 = 4",
               "X 2 = A 2 + B 2"]
        eq = eqs[int(rng.integers(0, len(eqs)))]
        return PageSpec(elements=[
            Text(_lines(rng, 2, 16), col=0),
            Text([eq], role="equation", col=0),
            Text(_lines(rng, 2, 16), col=0),
        ], scale=2, seed=seed)
    if family == "inline_equation_page":  # F27 — PT_INLINE_EQUATION,
        # equationdetect.cpp:351: a math row at NORMAL line pitch inside a
        # paragraph (no block gap) must split into flowing / inline_equation
        # / flowing, consecutive in reading order
        eqs = ["A + B = C - 1", "2 + 2 = 4", "X = Y + 2"]
        eq = eqs[int(rng.integers(0, len(eqs)))]
        body = _lines(rng, 4, 16)
        return PageSpec(elements=[MixedText(
            lines=body[:2] + [eq] + body[2:], eq_rows=(2,), col=0)],
            scale=2, seed=seed)
    if family == "bowed_page":  # F22 — quadratic baselines, baselinedetect.cpp:909
        bow = int(rng.choice([-1, 1])) * int(rng.integers(5, 11))
        return PageSpec(elements=[Text(_lines(rng, 4, 16))], scale=2,
                        bow_px=bow, seed=seed)
    if family == "wavy_page":  # F28 — multi-bow (spline) baselines: a full
        # sine period (an S-curve and more) cannot be flattened by one
        # quadratic term; the piecewise residual pass must (A4 v2,
        # baselinedetect.cpp:909 QSPLINE fallback). Amplitude is capped so
        # the INTRA-glyph shear (slope × glyph width ≈ 1.3 px) stays inside
        # what integer column shifts + decode resampling can absorb — the
        # same budget the bowed family lives within.
        wave = int(rng.integers(4, 7))
        return PageSpec(elements=[Text(_lines(rng, 4, 12))], scale=3,
                        wave_px=wave, wave_periods=1.0, seed=seed)
    if family == "tracked_page":  # F21 — fixed-pitch estimate, topitch.cpp:74
        t = int(rng.integers(1, 3))  # letter-spacing +1 or +2 font units
        return PageSpec(elements=[
            Text(_lines(rng, 3, 12), col=0, track_units=t),
        ], scale=2, seed=seed)
    if family == "disc_page":  # F20 — stroke-width grading, strokewidth.cpp:344
        return PageSpec(elements=[
            Text(_lines(rng, 2, 16), col=0),
            DiscImage(d_units=int(rng.integers(30, 50)), col=0),
            Text(_lines(rng, 2, 16), col=0),
        ], scale=2, seed=seed)
    if family == "broken_page":  # F23 — broken-char repair, strokewidth.cpp:588
        # a 1px white scan-line artifact slices every glyph it crosses into
        # fragments; repair (C3 FixBrokenCJK analog) must rejoin them.
        # scale=3 so the lost pixel column never flips a downsampled bit.
        return PageSpec(elements=[Text(_lines(rng, 3, 12), col=0)], scale=3,
                        cut_x_frac=float(rng.uniform(0.3, 0.6)), seed=seed)
    if family == "margin_note":  # F24 — pullout typing (C7): a one-line side
        # column is a margin note, PT_PULLOUT_TEXT (SetPartitionTypes,
        # colpartitionset.cpp: partitions outside the column set)
        short = [w for w in _VOCAB if len(w) <= 6]
        note = short[int(rng.integers(0, len(short)))]
        return PageSpec(elements=[
            Text(_lines(rng, 4, 14), col=0),
            Text([note], role="pullout", col=1),
        ], n_cols=2, scale=2, width_chars=15, seed=seed)
    if family == "bidi_page":  # F25 — bidi textline order (W4),
        # resultiterator.cpp:285; expected logical orders hand-derived from
        # the reference's permutation tests (resultiterator_test.cc:480-539):
        # positional [RTL RTL LTR LTR RTL] reads tail-first with the LTR
        # minor run kept left-to-right; a pure-RTL line simply reverses.
        # The page carries majority strong-RTL glyphs, so the script half of
        # OSD (osdetect.cpp:286) must fire and enable RTL ordering without
        # any config flag.
        return PageSpec(elements=[Text(
            ["אב גד FOX DOG הו", "זח טי"],
            truth_lines=["הו FOX DOG גד אב", "טי זח"], col=0)],
            scale=2, width_chars=17, rtl=True, seed=seed)
    if family in ("arabic_page", "arabic_bidi_page"):
        # F69/F70 — Arabic cursive script (VERDICT r4 item 3): positional
        # glyph forms (isolated/final vs joined initial/medial, real
        # Unicode Presentation Forms-B codepoints), words fused along a
        # connected BASELINE the kernel's bottom-half splitter must undo
        # (the C13 word-segmentation stress), 9-way script vote -> RTL
        # word order, presentation->base normalization at decode. The
        # reference reads Arabic through the same unicharset/bidi
        # machinery as Hebrew (resultiterator.cpp:285); truth lines are
        # LOGICAL text, page stores the shaped positional form.
        from .font import shape_arabic

        letters = "ابتنسملعفدرو"

        def _aword() -> str:
            n = int(rng.integers(2, 5))
            return "".join(letters[int(rng.integers(0, len(letters)))]
                           for _ in range(n))

        if family == "arabic_page":
            lines_w = [[_aword() for _ in range(3)],
                       [_aword() for _ in range(2)]]
            pos = [" ".join(shape_arabic(w) for w in reversed(ws))
                   for ws in lines_w]
            tru = [" ".join(ws) for ws in lines_w]
            return PageSpec(elements=[Text(pos, truth_lines=tru, col=0)],
                            scale=2, width_chars=18, rtl=True, seed=seed)
        # bidi: positional [A1 A2 FOX 12 DOG A3] reads A3 first, keeps
        # the LTR minor run (digits are neutral, absorbed into it)
        # positional, then A2, A1 — same derivation the Hebrew bidi_page
        # pins (resultiterator_test.cc:480-539 permutation rules)
        a1, a2, a3 = _aword(), _aword(), _aword()
        pos_line = (f"{shape_arabic(a1)} {shape_arabic(a2)} "
                    f"FOX 12 DOG {shape_arabic(a3)}")
        want = f"{a3} FOX 12 DOG {a2} {a1}"
        return PageSpec(elements=[Text([pos_line], truth_lines=[want],
                                       col=0)],
                        scale=2, width_chars=26, rtl=True, seed=seed)
    if family == "rotated_rtl":  # F26 — script-vote OSD on a rotated page:
        # orientation retry (C10) must find upright AND the script vote must
        # then flip word order to RTL (osdetect.cpp:239 + :286)
        return PageSpec(elements=[Text(
            ["אב גד הו", "זח טי בג"],
            truth_lines=["הו גד אב", "בג טי זח"], col=0)],
            scale=2, rot90=int(rng.integers(1, 4)), rtl=True, seed=seed)
    if family == "ragged_page":  # F29 — tab-vector column finding (J4,
        # tabfind.cpp:833 FindTabVectors + partner pairing): one col-0 line
        # runs long (15 chars at track 1 → ink ends 11s short of column 1,
        # below the 12s x-coverage gutter threshold), so the merged coverage
        # profile has NO qualifying gap — the gutter is only recoverable
        # from column 1's aligned left edges (a left tab vector) partnered
        # with the ragged right ink edge.
        five = [w for w in _VOCAB if len(w) == 5]
        three = [w for w in _VOCAB if len(w) == 3]
        intruder = (f"{five[int(rng.integers(0, len(five)))]} "
                    f"{five[int(rng.integers(0, len(five)))]} "
                    f"{three[int(rng.integers(0, len(three)))]}")
        assert len(intruder) == 15
        col0 = _lines(rng, 3, 14)
        col0[1] = intruder
        return PageSpec(
            elements=[Text(col0, col=0, track_lines={1: 1}),
                      Text(_lines(rng, 3, 14), col=1)],
            n_cols=2, scale=2, width_chars=15, seed=seed)
    if family == "sparse_texture":  # F31 — textline projection (C4,
        # textlineprojection.cpp:67,364): halftone dots at pitch 10px — too
        # sparse for the fixed 16px density grid (max 2.56 dots/cell < 3),
        # so without the adaptive projection pass the dots silently drop as
        # noise and the photo region is LOST (not merely mis-typed). One
        # full-width line pins page_w_ink so the 0.6-width texture stays
        # below the 0.7 flowing-image ratio in every variant.
        top = _lines(rng, 2, 16)
        top[0] = "QUICK LAZY OVER"
        return PageSpec(elements=[
            Text(top, col=0),
            TexturedImage(h_units=50, w_frac=0.6, dot_px=2, pitch_px=10,
                          col=0),
            Text(_lines(rng, 2, 16), col=0),
        ], scale=2, seed=seed)
    if family == "embedded_vertical":  # F30 — good-neighbour flow (J2,
        # strokewidth.cpp:872-892 FindGoodNeighbour): a vertical word drawn
        # BESIDE the flowing lines, 10 font units right of the longest line
        # (track-1 text, so word gaps are 9u and the tab-clearance bar is
        # 1.4*9u = 12.6u > 10u) — below the 12u coverage-gutter threshold
        # AND the tab clearance, so no column split separates it; its
        # glyphs share rows with the text. Only the flow pass (vertical
        # neighbour at 5u DOMINATES the 10u horizontal gap 2:1) can pull
        # the chain out before row building.
        words = [w for w in _VOCAB if 3 <= len(w) <= 5]
        word = words[int(rng.integers(0, len(words)))]
        five = [w for w in _VOCAB if len(w) == 5]
        lines = _lines(rng, 5, 13)
        lines[2] = (f"{five[int(rng.integers(0, len(five)))]} "
                    f"{five[int(rng.integers(0, len(five)))]} A")  # exactly 13
        return PageSpec(elements=[Text(lines, col=0, track_units=1)],
                        side_stack=(word, 107, 0),
                        scale=2, width_chars=18, seed=seed)
    if family == "para_page":  # F32 — paragraph detection WIRED into the
        # recognition pass (W6, DetectParagraphs inside Recognize,
        # baseapi.cpp:1417): one flowing block at normal line pitch whose
        # first-line indents (2 cells) must split it into paragraphs
        # [0,0,0,1,1] in the word sidecar (classic first-line-indent model,
        # paragraphs_test.cc kTwoParagraphs). Ragged right edges keep the
        # zone classifier off the centered/right branches. Leading spaces
        # render as indentation; truth text is the stripped decode.
        lines = ["  VECTOR STREAM GRID", "RASTER VECTOR COLUMN A",
                 "GLYPH PIXEL TOKEN", "  SHARD INDEX WORD",
                 "QUERY MERGE BATCH A"]
        return PageSpec(elements=[Text(
            lines, truth_lines=[ln.strip() for ln in lines], col=0)],
            scale=2, width_chars=23, seed=seed)
    if family == "music_page":  # F34 — music mask, pagesegmain.cpp:253
        # (photomask |= musicmask): a 5-line staff with note dots must come
        # out as ONE image region — not five separator rules + text noise
        from .render import StaffLines

        return PageSpec(elements=[
            Text(_lines(rng, 2, 16), col=0),
            StaffLines(n_lines=5, pitch_units=4, n_notes=4, col=0),
            Text(_lines(rng, 2, 16), col=0),
        ], scale=2, seed=seed)
    if family == "greek_page":  # F33 — per-script OSD vote beyond the RTL
        # set (osdetect.cpp:286 scores 10+ scripts): a Greek page must
        # decode via the widened glyph LUT and the script vote must pick
        # 'greek' (an LTR script — no RTL flip), not fall through to the
        # binary RTL/LTR coin the round-2 vote was.
        return PageSpec(elements=[Text(
            ["ΓΔΛ ΠΣΦ ΨΩΘ", "ΞΣΔ ΓΠΦ ΛΩΨ", "ΔΘΓ ΣΞΠ ΩΦΛ"])],
            scale=2, width_chars=13, seed=seed)
    if family == "cyrillic_page":  # F38 — second non-Latin LTR script: a
        # Cyrillic page must decode via the widened LUT and the 4-way
        # script vote must pick 'cyrillic' (no RTL flip, no greek
        # misattribution) — proves the vote is a real per-script argmax,
        # not a Greek special case (osdetect.cpp:286).
        return PageSpec(elements=[Text(
            ["БЖЗ ИЦЧ ШЩЮ", "ЯЗБ ЖИШ ЦЮЧ", "ЗЧЯ БШЖ ЮИЦ"])],
            scale=2, width_chars=13, seed=seed)
    if family == "korean_page":  # Hangul: space-separated square syllable
        # blocks — unlike cjk_page this rides the ORDINARY word segmenter
        # (Korean writes spaces), and the 9-way script vote must pick
        # 'hangul' (LTR, no pitch engine, identification-only like
        # greek/cyrillic). Glyphs are single-CC jamo compositions.
        return PageSpec(elements=[Text(
            ["가나다 미보소 오주구", "무가소 나오주 다구미",
             "보다가 주무나 소미오"])],
            scale=2, width_chars=13, seed=seed)
    if family == "thai_page":  # Thai: the SPACE-LESS script — words run
        # together (spaces mark phrase boundaries only), so the rendered
        # line differs from the logical truth: the kernel must recover
        # word boundaries by dictionary segmentation (greedy longest-
        # match over THAI_LEXICON, page.py _thai_segment — the
        # reference's Thai pack segments through its Dawgs the same
        # way), and the 9-way script vote must pick 'thai' (LTR,
        # identification-only).
        return PageSpec(elements=[Text(
            ["กามา ขานา จานนก", "คนงาน มดตา นากา", "ตาขา นกมด งานคน"],
            truth_lines=["กา มา ขา นา จาน นก", "คน งาน มด ตา นา กา",
                         "ตา ขา นก มด งาน คน"])],
            scale=2, width_chars=16, seed=seed)
    if family == "smudged_page":  # F41 — K4 beam top-k + dictionary:
        # three glyphs rendered corrupted past the hamming midpoint toward
        # a different letter (O→Q, C→G, N→M), so greedy per-cell argmin
        # reads FQX/QUIGK/TOKEM; only the beam over per-cell top-k
        # candidates with the dictionary gate recovers the truth text
        # (RecodeBeamSearch + Dawg, recodebeam.cpp:87 / dict/dawg.h).
        return PageSpec(elements=[Text(
            ["FOX JUMPS OVER", "THE QUICK BROWN", "CACHE MERGE TOKEN"],
            smudges={(0, 1): "Q", (1, 7): "G", (2, 16): "M"})],
            scale=2, width_chars=17, seed=seed)
    if family == "fuzzy_space_page":  # F42 — C15 post-recognition fuzzy-
        # space fix (fix_fuzzy_spaces, fixspace.cpp:79). Line 0 renders
        # VECTOR with the advance after 'C' widened to 9s: the 4s in-word
        # ink gap exceeds the 3s word break, segmentation reads "VEC TOR",
        # and only the dictionary merge rejoins it. Line 1 renders FOX DOG
        # with the space collapsed to a 3s ink gap (advance 8s after 'X',
        # no space char): the break is missed, the fused pseudo-word puts
        # DOG 2s off the 6s pitch grid so its cells decode dirty, and only
        # the fuzzy-gap re-decode-split recovers both words. Line 2 is a
        # clean control line.
        return PageSpec(elements=[Text(
            ["VECTOR", "FOXDOG", "CACHE BATCH"],
            adv_tweaks={(0, 2): 9, (1, 2): 8},
            truth_lines=["VECTOR", "FOX DOG", "CACHE BATCH"])],
            scale=2, width_chars=13, seed=seed)
    if family == "devanagari_page":  # F40 — shiro-rekha splitter (F9,
        # devanagari_processing.cpp:231 SplitWordShiroRekha): the headline
        # fuses each word into ONE connected component — without the split,
        # rows see word-blobs, the pitch estimate loses its in-word deltas,
        # and per-glyph decode/symbol boxes are impossible. The script vote
        # must also pick 'devanagari' (LTR — no RTL flip).
        return PageSpec(elements=[Text(
            ["कखग घटन मरस", "दकन गमट खसर", "नदम टरक सगख"])],
            scale=2, width_chars=13, seed=seed)
    if family == "cjk_page":  # F43 — CJK fixed pitch (src/textord/
        # cjkpitch.cpp): no word spaces (each line decodes as ONE word),
        # and the multi-blob characters 川/三 make the intra-character
        # stroke gap equal the inter-character gap — only the body-bounded
        # fragment merge (_merge_pitch_cells, FPRow::MergeFragments
        # cjkpitch.cpp:862) can reassemble them. track_units=1 (pitch 7s)
        # makes the merge LOAD-BEARING for the decode itself: the all-川
        # line has no two adjacent solid characters, so every raw
        # group-start delta is an intra-character stroke step (2s/3s) and
        # the pitch estimate would fall back to the wrong nominal 6s grid;
        # only merged characters expose the true 7s pitch samples
        # (EstimatePitch pass1, cjkpitch.cpp:623). The 6-way script vote
        # must pick 'cjk' (LTR — no RTL flip).
        return PageSpec(elements=[Text(
            ["川川川川川", "山口田川中", "三日月木王"], track_units=1)],
            scale=2, width_chars=13, seed=seed)
    if family == "cjk_vertical_page":  # F44 — vertical CJK line: the
        # dominant set direction for traditional CJK (the reference's
        # vertical-text path, strokewidth.cpp:211 + cjkpitch's vertical
        # rows). The stack includes 川 (three strokes), so the block-shape
        # vertical rule sees one row of THREE groups until the pitch-cell
        # merge fuses them — gap-based grouping alone would misread the
        # stack as a 3-column texture.
        return PageSpec(elements=[
            Text(["山口田中日", "王月木山口"], col=0),
            VerticalText("川山田", col=0),
            Text(["田中王月日"], col=0),
        ], scale=2, seed=seed)
    if family == "vertical_page":  # F19 — vertical text, strokewidth.cpp:211
        word = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        return PageSpec(elements=[
            Text(_lines(rng, 2, 16), col=0),
            VerticalText(word, col=0),
            Text(_lines(rng, 2, 16), col=0),
        ], scale=2, seed=seed)
    raise ValueError(family)


PAGE_FAMILIES = [
    "single_column", "two_column", "interleaved_order", "image_only",
    "grid_2x2", "paragraphs", "noise_page", "empty_page",
    "ruled_page", "table_page", "skewed_page", "rotated_page",
    "textured_photo", "gradient_page", "contents_page", "equation_page",
    "vertical_page", "disc_page", "tracked_page", "bowed_page",
    "broken_page", "margin_note", "bidi_page", "rotated_rtl",
    "inline_equation_page", "wavy_page", "ragged_page", "embedded_vertical",
    "sparse_texture", "para_page", "tiff_page", "tiff_multipage",
    "greek_page", "music_page", "pnm_page", "bmp_page", "jpeg_page",
    "cyrillic_page", "exif_tiff_page", "exif_jpeg_page", "pdf_page",
    "pdf_scanned_page", "pdf_two_column_page", "rgb_png_page",
    "gif_page", "progressive_jpeg_page", "pdf_modern_page",
    "pdf_cid_page", "pdf_searchable_page", "devanagari_page",
    "smudged_page", "fuzzy_space_page", "g4_tiff_page",
    "cjk_page", "cjk_vertical_page", "spanned_table_page",
    "pdf_rotated_page", "pdf_inline_image_page", "webp_page",
    "pdf_encrypted_page", "cmyk_jpeg_page", "pdf_ccitt_page",
    "tiled_tiff_page", "interlaced_png_page", "pdf_aes_page",
    "pdf_aes256_page", "webp_lossy_page", "webp_vp8x_page",
    "pdf_jbig2_page", "arabic_page", "arabic_bidi_page",
    "pdf_jpx_page", "jp2_page", "jpeg_tiff_page",
    "pdf_jbig2_arith_page", "pdf_jbig2_text_page", "webp_anim_page",
    "jp2_bypass_page", "korean_page", "webp_alpha_page",
    "pdf_jbig2_huff_page", "thai_page", "pdf_stencil_page",
    "pdf_jbig2_halftone_page", "ico_page",
]


@dataclass
class FixtureSet:
    docs: pd.DataFrame
    media: pd.DataFrame
    truth: pd.DataFrame

    def to_spark(self, spark):
        docs = spark.createDataFrame(self.docs.to_dict("records"), DOCS_SCHEMA)
        media = spark.createDataFrame(
            [tuple(r) for r in self.media.itertuples(index=False)], MEDIA_SCHEMA)
        truth = spark.createDataFrame(
            [tuple(r) for r in self.truth.itertuples(index=False)], TRUTH_SCHEMA)
        return docs, media, truth


class _Builder:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.docs: list[dict] = []
        self.media: list[dict] = []
        self.truth: list[dict] = []
        self._media_n = 0

    def add_page(self, family: str) -> tuple[str, list]:
        # TIFF families exercise the codec-dispatch seam (SetImage,
        # baseapi.cpp:881): same rendered pages, different container.
        # tiff_multipage packs TWO pages into one media ref — truth blocks
        # run page 1 then page 2 (ProcessPagesMultipageTiff baseapi.cpp:1657).
        if family == "tiff_page":
            from .encoders.tiff import encode_gray_tiff

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray_tiff(img, "lzw")
        elif family == "tiff_multipage":
            from .encoders.tiff import encode_gray_tiff

            img, b1 = render_page(page_spec("single_column", self.rng))
            img2, b2 = render_page(page_spec("interleaved_order", self.rng))
            payload = encode_gray_tiff([img, img2], "none")
            blocks = b1 + b2
        elif family == "exif_tiff_page":
            # EXIF-rotated ingest (Orientation tag 274): the container
            # stores the page rotated 90° CCW with orientation=6, so the
            # decoder must un-rotate before analysis (Leptonica applies
            # the tag on read; SetImage baseapi.cpp:881). Truth blocks are
            # the UPRIGHT page's — identical to an untagged upright scan.
            from .encoders.tiff import encode_gray_tiff

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray_tiff(
                np.ascontiguousarray(np.rot90(img, 1)), "none", orientation=6)
        elif family == "exif_jpeg_page":
            # same contract through the JPEG APP1 Exif path (phone-camera
            # scans arrive rotated-with-tag)
            from .encoders.jpeg import encode_gray_jpeg

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray_jpeg(
                np.ascontiguousarray(np.rot90(img, 1)), quality=95,
                exif_orientation=6)
        elif family == "pdf_page":
            # born-digital PDF: text parses straight from the content
            # stream (functions/pdf.py) — no OCR, so the vocabulary is NOT
            # limited to the raster fixture font (mixed case proves it);
            # an embedded image XObject interleaves as flowing_image
            from .encoders.pdf import encode_simple_pdf
            from .render import TruthBlock

            cap = lambda s: " ".join(w.capitalize() for w in s.split())  # noqa: E731
            top_lines = [cap(ln) for ln in _lines(self.rng, 3, 28)]
            bot_lines = [cap(ln) for ln in _lines(self.rng, 2, 28)]
            pic = (np.outer(np.arange(40), np.arange(60)) % 251
                   ).astype(np.uint8)
            els = [("text", 72, 700 - 16 * i, 12, ln)
                   for i, ln in enumerate(top_lines)]
            els.append(("image", pic, 72, 500))
            els += [("text", 72, 300 - 16 * i, 12, ln)
                    for i, ln in enumerate(bot_lines)]
            payload = encode_simple_pdf([els])
            blocks = [TruthBlock("flowing_text", "\n".join(top_lines)),
                      TruthBlock("flowing_image", None),
                      TruthBlock("flowing_text", "\n".join(bot_lines))]
            img = np.empty((792, 612), dtype=np.uint8)  # media w/h metadata
        elif family == "pdf_modern_page":
            # the 1.5+ file layout every current producer writes: objects
            # packed in an /ObjStm, cross-reference STREAM with the PNG
            # up-predictor — same content contract as pdf_page
            from .encoders.pdf import encode_simple_pdf
            from .render import TruthBlock

            cap = lambda s: " ".join(w.capitalize() for w in s.split())  # noqa: E731
            lines = [cap(ln) for ln in _lines(self.rng, 3, 28)]
            payload = encode_simple_pdf(
                [[("text", 72, 700 - 16 * i, 12, ln)
                  for i, ln in enumerate(lines)]], modern=True)
            blocks = [TruthBlock("flowing_text", "\n".join(lines))]
            img = np.empty((792, 612), dtype=np.uint8)  # media w/h metadata
        elif family == "pdf_cid_page":
            # composite-font PDF: Type0 Identity-H with /ToUnicode — how
            # every real-world PDF with an embedded subset font encodes
            # text; same content contract as pdf_page
            from .encoders.pdf import encode_simple_pdf
            from .render import TruthBlock

            cap = lambda s: " ".join(w.capitalize() for w in s.split())  # noqa: E731
            lines = [cap(ln) for ln in _lines(self.rng, 3, 28)]
            payload = encode_simple_pdf(
                [[("text", 72, 700 - 16 * i, 12, ln)
                  for i, ln in enumerate(lines)]], cid_font=True)
            blocks = [TruthBlock("flowing_text", "\n".join(lines))]
            img = np.empty((792, 612), dtype=np.uint8)  # media w/h metadata
        elif family == "pdf_searchable_page":
            # invisible-text-over-scan: the searchable-PDF shape the
            # reference's own pdfrenderer.cpp WRITES (text layer over the
            # page image). The text layer is the content; the near-full-
            # page backdrop is suppressed, so truth is text-only.
            from .encoders.pdf import encode_simple_pdf
            from .render import TruthBlock

            cap = lambda s: " ".join(w.capitalize() for w in s.split())  # noqa: E731
            lines = [cap(ln) for ln in _lines(self.rng, 3, 28)]
            scan = np.full((792, 612), 214, dtype=np.uint8)
            payload = encode_simple_pdf([
                [("image", scan, 0, 0)]
                + [("text", 72, 700 - 16 * i, 12, ln)
                   for i, ln in enumerate(lines)]])
            blocks = [TruthBlock("flowing_text", "\n".join(lines))]
            img = np.empty((792, 612), dtype=np.uint8)  # media w/h metadata
        elif family == "pdf_two_column_page":
            # born-digital LAYOUT parse: header spanning two columns whose
            # lines share baselines — a plain y-sort would merge the
            # columns into single lines; the gutter-split + x-overlap
            # chaining + XY-cut ordering must yield header, left column,
            # right column (the W2 reading-order contract on the PDF path)
            from .encoders.pdf import encode_simple_pdf
            from .render import TruthBlock

            cap = lambda s: " ".join(w.capitalize() for w in s.split())  # noqa: E731
            head = cap(_lines(self.rng, 1, 30)[0])
            lcol = [cap(ln) for ln in _lines(self.rng, 2, 16)]
            rcol = [cap(ln) for ln in _lines(self.rng, 2, 16)]
            els = ([("text", 72, 740, 12, head)]
                   + [("text", 72, 700 - 16 * i, 12, ln)
                      for i, ln in enumerate(lcol)]
                   + [("text", 340, 700 - 16 * i, 12, ln)
                      for i, ln in enumerate(rcol)])
            payload = encode_simple_pdf([els])
            blocks = [TruthBlock("flowing_text", head),
                      TruthBlock("flowing_text", "\n".join(lcol)),
                      TruthBlock("flowing_text", "\n".join(rcol))]
            img = np.empty((792, 612), dtype=np.uint8)
        elif family == "pdf_scanned_page":
            # mixed-mode PDF: page 1 carries a text layer (born-digital
            # parse), page 2 is a wrapped scan (image-only → falls through
            # to the raster OCR kernel) — the per-page "OCR only what has
            # no text layer" rule, block order continuing across pages
            from .encoders.pdf import encode_simple_pdf
            from .render import TruthBlock

            cap = lambda s: " ".join(w.capitalize() for w in s.split())  # noqa: E731
            digital = [cap(ln) for ln in _lines(self.rng, 2, 28)]
            img, scanned = render_page(page_spec("single_column", self.rng))
            payload = encode_simple_pdf([
                [("text", 72, 700 - 16 * i, 12, ln)
                 for i, ln in enumerate(digital)],
                [("image", img, 0, 0)],
            ], page_size=(612, 792))
            blocks = ([TruthBlock("flowing_text", "\n".join(digital))]
                      + scanned)
        elif family == "pdf_rotated_page":
            # the scanner-app shape (same contract as the EXIF tag-274
            # families): the page image is STORED rotated 90° ccw in user
            # space and the page carries /Rotate 90 — pixels untouched,
            # the READER must normalize before analysis (walk/_read_page
            # compose the display rotation; ISO 32000 §14.11.2 table 378).
            # Truth is the upright page's blocks.
            from .encoders.pdf import encode_simple_pdf

            img, blocks = render_page(page_spec("single_column", self.rng))
            stored = np.ascontiguousarray(np.rot90(img, 1))
            payload = encode_simple_pdf(
                [[("image", stored, 0, 0)]],
                page_size=(stored.shape[1], stored.shape[0]), rotate=90)
        elif family == "pdf_encrypted_page":
            # RC4 standard-security-handler PDF (R3 128-bit, EMPTY user
            # password — the restrict-permissions shape most generators
            # emit): same content contract as pdf_page, but every stream
            # is encrypted with its per-object key and the reader must
            # derive + authenticate the file key (functions/pdfcrypt.py)
            from .encoders.pdf import encode_simple_pdf
            from .render import TruthBlock

            cap = lambda s: " ".join(w.capitalize() for w in s.split())  # noqa: E731
            lines = [cap(ln) for ln in _lines(self.rng, 3, 28)]
            payload = encode_simple_pdf(
                [[("text", 72, 700 - 16 * i, 12, ln)
                  for i, ln in enumerate(lines)]], encrypt=True)
            blocks = [TruthBlock("flowing_text", "\n".join(lines))]
            img = np.empty((792, 612), dtype=np.uint8)  # media w/h metadata
        elif family in ("pdf_aes_page", "pdf_aes256_page"):
            # AES standard-security-handler PDFs — the post-2008 encrypted
            # shape (RC4 was deprecated in ISO 32000): AESV2 (/V 4 R4,
            # 128-bit CBC) and AESV3 (/V 5 R6, 256-bit with the
            # algorithm-2.B KDF), both with the EMPTY user password; the
            # reader must authenticate /U, unwrap the file key, and CBC-
            # decrypt every IV-prefixed stream (functions/pdfcrypt.py)
            from .encoders.pdf import encode_simple_pdf
            from .render import TruthBlock

            cap = lambda s: " ".join(w.capitalize() for w in s.split())  # noqa: E731
            lines = [cap(ln) for ln in _lines(self.rng, 3, 28)]
            mode = "aes128" if family == "pdf_aes_page" else "aes256"
            payload = encode_simple_pdf(
                [[("text", 72, 700 - 16 * i, 12, ln)
                  for i, ln in enumerate(lines)]], encrypt=mode)
            blocks = [TruthBlock("flowing_text", "\n".join(lines))]
            img = np.empty((792, 612), dtype=np.uint8)  # media w/h metadata
        elif family == "pdf_inline_image_page":
            # inline images (BI/ID/EI, §8.9.7 abbreviated keys + /Fl):
            # the small-decoration shape real documents carry inside the
            # content stream itself, not as an XObject — same interleave
            # contract as pdf_page
            from .encoders.pdf import encode_simple_pdf
            from .render import TruthBlock

            cap = lambda s: " ".join(w.capitalize() for w in s.split())  # noqa: E731
            top_lines = [cap(ln) for ln in _lines(self.rng, 3, 28)]
            bot_lines = [cap(ln) for ln in _lines(self.rng, 2, 28)]
            pic = (np.outer(np.arange(50), np.arange(70)) % 249
                   ).astype(np.uint8)
            els = [("text", 72, 700 - 16 * i, 12, ln)
                   for i, ln in enumerate(top_lines)]
            els.append(("inline_image", pic, 72, 480))
            els += [("text", 72, 300 - 16 * i, 12, ln)
                    for i, ln in enumerate(bot_lines)]
            payload = encode_simple_pdf([els])
            blocks = [TruthBlock("flowing_text", "\n".join(top_lines)),
                      TruthBlock("flowing_image", None),
                      TruthBlock("flowing_text", "\n".join(bot_lines))]
            img = np.empty((792, 612), dtype=np.uint8)  # media w/h metadata
        elif family == "g4_tiff_page":
            # CCITT Group 4 container — the archival-scan compression
            # (Leptonica reads G4 natively through the same pixReadMem
            # sniff, SetImage baseapi.cpp:881). Encoding thresholds to
            # bilevel (fax files ARE bilevel); the fixture page is pure
            # two-level ink, so the decoded raster binarizes to the same
            # blobs and truth is the plain page's.
            from .encoders.tiff import encode_gray_tiff

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray_tiff(img, "g4")
        elif family == "pnm_page":
            from .encoders.raster import encode_gray_pnm

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray_pnm(img, binary=True)
        elif family == "bmp_page":
            from .encoders.raster import encode_gray_bmp

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray_bmp(img)
        elif family == "rgb_png_page":
            # COLOR container: truecolor PNG collapses to BT.601 luma in
            # the decoder (Leptonica pixConvertTo8 on read, SetImage
            # baseapi.cpp:881). The tint r=y+29, g=y, b=y-77 cancels
            # exactly in the integer luma (77*29 == 29*77) for every y in
            # [77, 226] — the range keeps both channels in uint8 (b would
            # wrap below 77 and silently brighten ink) — so the decoded
            # gray equals the contrast-compressed rendering and truth is
            # the plain page's (exactness pinned by test_fixtures).
            from .encoders.png import encode_rgb

            img, blocks = render_page(page_spec("single_column", self.rng))
            y = 77 + img.astype(np.int32) * 149 // 255
            rgb = np.stack([y + 29, y, y - 77], axis=2).astype(np.uint8)
            payload = encode_rgb(rgb)
        elif family == "progressive_jpeg_page":
            # SOF2 container (spectral selection + successive
            # approximation): the dominant web-JPEG shape. q=95 keeps the
            # glyphs Otsu-separable like jpeg_page; truth is the plain
            # page's (the coefficient pipeline is identical to baseline,
            # pinned bit-equal by test_jpeg.py).
            from .encoders.jpeg import encode_progressive_jpeg

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_progressive_jpeg(img, quality=95)
        elif family == "gif_page":
            # GIF container (interlaced, gray palette): pixReadMem sniffs
            # GIF too (SetImage baseapi.cpp:881). The identity (v,v,v)
            # palette makes luma collapse exact, so truth is the plain
            # page's.
            from .encoders.gif import encode_gif

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gif(img, interlace=True)
        elif family == "jpeg_page":
            # LOSSY container: q=95 keeps glyph bitmaps Otsu-separable (the
            # codec roundtrip test pins bilevel fidelity), so the decode
            # truth is unchanged from the PNG rendering of the same page
            from .encoders.jpeg import encode_gray_jpeg

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray_jpeg(img, quality=95)
        elif family == "tiled_tiff_page":
            # TILED container layout (TIFF6 §15, tags 322-325) — how
            # archival systems store large scans. G4-compressed 64x64
            # tiles, each an independent coding block; truth is the plain
            # page's (bit-exact on two-level ink).
            from .encoders.tiff import encode_gray_tiff

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray_tiff(img, "g4", tile=(64, 64))
        elif family == "pdf_ccitt_page":
            # THE archival scanned-PDF shape: a bilevel page wrapped as a
            # CCITT G4 (/CCITTFaxDecode, /K -1) image XObject. Image-only,
            # so it falls through to the raster OCR kernel; the G4
            # roundtrip is bit-exact on two-level ink, truth is the plain
            # page's.
            from .encoders.pdf import encode_simple_pdf

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_simple_pdf(
                [[("g4_image", img, 0, 0)]],
                page_size=(img.shape[1], img.shape[0]))
        elif family == "cmyk_jpeg_page":
            # Adobe 4-component YCCK JPEG (APP14 transform 2) — the
            # print-workflow container. Page ink rides the K channel
            # (c=m=y=0), values stored inverted per the Adobe convention;
            # q=95 keeps glyphs Otsu-separable like jpeg_page, so truth is
            # the plain page's.
            from .encoders.jpeg import encode_cmyk_jpeg

            img, blocks = render_page(page_spec("single_column", self.rng))
            cmyk = np.zeros(img.shape + (4,), dtype=np.uint8)
            cmyk[:, :, 3] = 255 - img
            payload = encode_cmyk_jpeg(cmyk, quality=95, transform=2)
        elif family == "interlaced_png_page":
            # Adam7-interlaced PNG (spec §8.2) — the progressive-render
            # layout a slice of web PNGs still carries. Lossless, so truth
            # is the plain page's.
            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray(img, interlace=True)
        elif family == "webp_page":
            # lossless WEBP (VP8L) container — the web-crawl media shape
            # (Leptonica sniffs WEBP through the same pixReadMem dispatch,
            # SetImage baseapi.cpp:881). Lossless roundtrip, so truth is
            # the plain page's.
            from .encoders.webp import encode_gray_webp

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray_webp(img)
        elif family == "pdf_jbig2_page":
            # /JBIG2Decode image XObject (ISO 32000 §7.4.7) — the OTHER
            # archival scanned-PDF shape beside CCITT: striped MMR generic
            # regions with the page-info segment in a /JBIG2Globals
            # stream. Bit-exact on two-level ink, truth is the plain
            # page's.
            from .encoders.pdf import encode_simple_pdf

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_simple_pdf(
                [[("jbig2_image", img, 0, 0)]],
                page_size=(img.shape[1], img.shape[0]))
        elif family == "pdf_jbig2_arith_page":
            # /JBIG2Decode with MQ-coded generic regions + TPGDON — the
            # coding family real scanner stacks default to over MMR.
            # Bit-exact on two-level ink, truth is the plain page's.
            from .encoders.pdf import encode_simple_pdf

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_simple_pdf(
                [[("jbig2_arith_image", img, 0, 0)]],
                page_size=(img.shape[1], img.shape[0]))
        elif family == "pdf_jbig2_text_page":
            # /JBIG2Decode symbol-dictionary + text-region organization
            # (T.88 §6.4/§6.5) — the DOMINANT real-world scanned-PDF
            # shape: deduplicated glyph symbols placed by instance. The
            # dictionary rides /JBIG2Globals. Bit-exact, truth is the
            # plain page's.
            from .encoders.pdf import encode_simple_pdf

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_simple_pdf(
                [[("jbig2_text_image", img, 0, 0)]],
                page_size=(img.shape[1], img.shape[0]))
        elif family == "pdf_jbig2_huff_page":
            # /JBIG2Decode, HUFFMAN organization (T.88 Annex B standard
            # tables): same symbol-dictionary + text-region shape as
            # pdf_jbig2_text_page but coded with prefix codes and
            # MMR collective bitmaps — the pre-MQ encoder generation
            # still present in archival corpora. Bit-exact, truth is the
            # plain page's.
            from .encoders.pdf import encode_simple_pdf

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_simple_pdf(
                [[("jbig2_huff_image", img, 0, 0)]],
                page_size=(img.shape[1], img.shape[0]))
        elif family == "pdf_stencil_page":
            # /ImageMask stencil (ISO 32000 §8.9.6.2): the whole bilevel
            # page as a 1-bit mask XObject painting black fill — the
            # text-stamp/logo/bilevel-scan shape. Sample 0 paints, so
            # roundtrip is bit-exact on two-level ink; truth is the
            # plain page's.
            from .encoders.pdf import encode_simple_pdf

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_simple_pdf(
                [[("stencil_image", img, 0, 0)]],
                page_size=(img.shape[1], img.shape[0]))
        elif family == "pdf_jbig2_halftone_page":
            # /JBIG2Decode HALFTONE organization (T.88 §6.6/§6.7): a
            # grayscale photo shipped as a pattern dictionary + gray-code
            # bitplane halftone region — how archival scanners encode the
            # PHOTOS on a bilevel page. The decoded dot lattice must read
            # as ONE image block (F7 texture mask), no ghost text.
            from .encoders.jbig2 import encode_jbig2_halftone
            from .encoders.pdf import encode_simple_pdf
            from .render import FLOWING_IMAGE, TruthBlock

            yy, xx = np.mgrid[0:220, 0:300]
            gray = np.full((220, 300), 255, np.uint8)
            # density window tuned so the dot lattice reads as TEXTURE at
            # every level (denser halftones merge into bar-like blobs the
            # glyph decoder would ghost-read; swept in tests/test_jbig2.py)
            lo = 140 + int(self.rng.integers(0, 30))
            gray[40:180, 40:260] = (
                lo + 70 * (xx[40:180, 40:260] - 40) / 219).astype(np.uint8)
            from ..functions.jbig2 import decode_jbig2
            bits = decode_jbig2(encode_jbig2_halftone(gray))
            img = ((1 - bits) * 255).astype(np.uint8)
            blocks = [TruthBlock(FLOWING_IMAGE, None)]
            payload = encode_simple_pdf(
                [[("jbig2_halftone_image", gray, 0, 0)]],
                page_size=(gray.shape[1], gray.shape[0]))
        elif family == "ico_page":
            # ICO favicon container (a standing slice of crawl media):
            # the page as the LARGEST entry — a 32-bit BGRA DIB with
            # doubled biHeight + empty AND mask — behind a smaller decoy
            # entry, so largest-entry selection is exercised.
            from .encoders.raster import encode_gray_ico

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray_ico(img, entry="dib32", decoys=1)
        elif family == "jpeg_tiff_page":
            # new-style JPEG-in-TIFF (TIFF Technical Note 2) — the scanner
            # archival shape libtiff writes by default: abbreviated JPEG
            # strips sharing one tag-347 JPEGTables stream. q=95 keeps
            # glyphs Otsu-separable (same tolerance class as jpeg_page),
            # so truth is the plain page's.
            from .encoders.tiff import encode_gray_tiff

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_gray_tiff(
                img, compression="jpeg", jpeg_tables=True,
                strip_rows=max(16, img.shape[0] // 3))
        elif family == "pdf_jpx_page":
            # /JPXDecode image XObject (ISO 32000 §7.4.9) — the post-2001
            # archival/born-digital shape: a JPEG 2000 JP2 container with
            # the reversible 5/3 path. Lossless, so truth is the plain
            # page's (functions/jp2.py decodes it from scratch).
            from .encoders.pdf import encode_simple_pdf

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_simple_pdf(
                [[("jpx_image", img, 0, 0)]],
                page_size=(img.shape[1], img.shape[0]))
        elif family == "jp2_page":
            # standalone .jp2 raster — Leptonica ingests it through the
            # same pixReadMem sniff when built with OpenJPEG
            # (SetImage baseapi.cpp:881). Lossless 5/3 roundtrip.
            from .encoders.jp2 import encode_jp2

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_jp2(img, levels=3, reversible=True)
        elif family == "jp2_bypass_page":
            # the archival-scan JPEG 2000 shape (Internet Archive /
            # Kakadu: Cprecincts={64,64} Cmodes=BYPASS|RESET|CAUSAL):
            # user-defined precincts, raw SPP/MRP segments, per-pass
            # context reset, vertically-causal contexts, two quality
            # layers. Lossless, so truth is the plain page's.
            from .encoders.jp2 import encode_jp2

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_jp2(img, levels=3, reversible=True,
                                 bypass=True, reset=True, causal=True,
                                 layers=2, precincts=(6, 6))
        elif family == "webp_lossy_page":
            # lossy VP8 key-frame WEBP — the MAJORITY crawl-media shape
            # (baseapi.cpp:881 ingests it via Leptonica's sniff). qi=8
            # keeps glyphs Otsu-separable like jpeg_page's q=95, so truth
            # is the plain page's; B_PRED/skip/loop-filter paths are all
            # exercised at these settings.
            from .encoders.vp8 import encode_webp_vp8

            img, blocks = render_page(page_spec("single_column", self.rng))
            payload = encode_webp_vp8(img, qi=8, filter_level=8)
        elif family == "webp_vp8x_page":
            # extended (VP8X) WEBP: lossy VP8 frame + raw ALPH alpha that
            # blanks a border strip (composited onto white) + a skipped
            # EXIF chunk — the feature-flag container layout.
            from .encoders.vp8 import encode_webp_vp8x

            img, blocks = render_page(page_spec("single_column", self.rng))
            alpha = np.full(img.shape, 255, np.uint8)
            alpha[:4, :] = 0    # margin strip, no glyphs there
            payload = encode_webp_vp8x(img, alpha=alpha, qi=8,
                                       filter_level=8,
                                       exif=b"Exif\x00\x00II*\x00")
        elif family == "webp_alpha_page":
            # the real libwebp-with-transparency shape: lossy VP8 frame +
            # LOSSLESS-COMPRESSED, gradient-filtered ALPH plane (headerless
            # VP8L stream, alpha in the green channel). The soft-edged
            # vignette keeps every glyph at full opacity so truth is the
            # plain page's; the margin fade exercises the filter + the
            # white composite.
            from .encoders.vp8 import encode_webp_vp8x

            img, blocks = render_page(page_spec("single_column", self.rng))
            alpha = np.full(img.shape, 255, np.uint8)
            ramp = np.linspace(0, 255, 6).astype(np.uint8)
            alpha[:6, :] = ramp[:, None]      # top-edge fade, no glyphs
            payload = encode_webp_vp8x(img, alpha=alpha, qi=8,
                                       filter_level=8,
                                       alpha_compressed=True,
                                       alpha_filter=3)
        elif family == "webp_anim_page":
            # animated (ANIM/ANMF) WEBP — a double-digit slice of crawl
            # media. Frame 1 carries the page (the still the decoder
            # extracts, like Leptonica's frame-1 read); frame 2 is a
            # decoy block that must NOT leak into the page.
            from .encoders.vp8 import encode_webp_anim

            img, blocks = render_page(page_spec("single_column", self.rng))
            decoy = np.zeros((16, 16), np.uint8)
            payload = encode_webp_anim([img, decoy],
                                       offsets=[(0, 0), (0, 0)],
                                       qi=8, filter_level=8)
        else:
            img, blocks = render_page(page_spec(family, self.rng))
            payload = encode_gray(img)
        ref = f"m-{family}-{self._media_n:06d}"
        self._media_n += 1
        self.media.append(dict(media_ref=ref, width=img.shape[1],
                               height=img.shape[0], image=payload))
        return ref, blocks

    def add_doc(self, doc_id: str, parts: list[tuple[str, str]]) -> None:
        """parts: list of ('text', passage) or ('media', family)."""
        spans, truth_rows = [], []
        for off, (kind, payload) in enumerate(parts):
            if kind == "text":
                spans.append(dict(kind="text", text=payload, media_ref=None, offset=off))
                truth_rows.append(dict(kind="text", text=payload, media_ref=None))
            else:
                ref, blocks = self.add_page(payload)
                spans.append(dict(kind="media", text=None, media_ref=ref, offset=off))
                for b in blocks:
                    truth_rows.append(dict(kind=b.kind, text=b.text, media_ref=ref))
        self.docs.append(dict(doc_id=doc_id, spans=spans))
        for i, tr in enumerate(truth_rows):
            self.truth.append(dict(doc_id=doc_id, order=i, **tr))

    def passage(self) -> str:
        return " ".join(_lines(self.rng, 1, 40))

    def build(self) -> FixtureSet:
        return FixtureSet(
            docs=pd.DataFrame(self.docs),
            media=pd.DataFrame(self.media,
                               columns=["media_ref", "width", "height", "image"]),
            truth=pd.DataFrame(self.truth,
                               columns=["doc_id", "order", "kind", "text", "media_ref"]),
        )


def build_fixtures(seed: int = 42) -> FixtureSet:
    """The correctness fixture set: one doc per family + the interleaved
    multi-media doc (F09) and the skew doc (F10, 64 media spans)."""
    b = _Builder(seed)
    for fam in PAGE_FAMILIES:
        b.add_doc(f"d-{fam}", [("text", b.passage()), ("media", fam), ("text", b.passage())])
    # F09: multi-media interleave — reassembly + order spec
    b.add_doc("d-multi", [
        ("text", b.passage()), ("media", "single_column"), ("text", b.passage()),
        ("media", "interleaved_order"), ("text", b.passage()),
    ])
    # F10: media-heavy skew doc (axis B): 64 pages in one doc
    b.add_doc("d-skew", [("media", "single_column") for _ in range(64)])
    return b.build()


# The round-3 family list, FROZEN verbatim (git b1d7915) — the fixed-
# corpus A/B lane (`python bench.py --frozen`) measures docs/s over
# exactly these families every round, so per-doc extraction cost is
# comparable round-over-round even as PAGE_FAMILIES keeps growing
# (VERDICT r4 "What's wrong" #2: corpus hardening must not silently read
# as a throughput regression).
R3_FROZEN_FAMILIES = (
    "single_column", "two_column", "interleaved_order", "image_only",
    "grid_2x2", "paragraphs", "noise_page", "empty_page",
    "ruled_page", "table_page", "skewed_page", "rotated_page",
    "textured_photo", "gradient_page", "contents_page", "equation_page",
    "vertical_page", "disc_page", "tracked_page", "bowed_page",
    "broken_page", "margin_note", "bidi_page", "rotated_rtl",
    "inline_equation_page", "wavy_page", "ragged_page", "embedded_vertical",
    "sparse_texture", "para_page", "tiff_page", "tiff_multipage",
    "greek_page", "music_page", "pnm_page", "bmp_page", "jpeg_page",
    "cyrillic_page", "exif_tiff_page", "exif_jpeg_page", "pdf_page",
    "pdf_scanned_page", "pdf_two_column_page", "rgb_png_page",
    "gif_page", "progressive_jpeg_page", "pdf_modern_page",
    "pdf_cid_page", "pdf_searchable_page", "devanagari_page",
    "smudged_page", "fuzzy_space_page", "g4_tiff_page",
)


def generate_corpus(n_docs: int, seed: int = 42, heavy_every: int = 200,
                    heavy_pages: int = 32,
                    families: tuple[str, ...] | None = None) -> FixtureSet:
    """Bench corpus: mixed families, one media-heavy doc per `heavy_every`
    docs (the axis-B skew that salted repartitioning must absorb).
    `families` restricts the mix (e.g. R3_FROZEN_FAMILIES for the
    cross-round comparable lane); default = all current families."""
    b = _Builder(seed)
    fams = [f for f in (families or PAGE_FAMILIES) if f != "empty_page"]
    for i in range(n_docs):
        if heavy_every and i % heavy_every == heavy_every - 1:
            parts = [("media", "single_column") for _ in range(heavy_pages)]
        else:
            fam = fams[i % len(fams)]
            parts = [("text", b.passage()), ("media", fam), ("text", b.passage())]
        b.add_doc(f"doc-{i:07d}", parts)
    return b.build()
