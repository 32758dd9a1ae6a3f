"""Deterministic synthetic page renderer + truth generator.

Mirrors the reference's own test strategy: its pure-logic tests build inputs
from ASCII art rather than scans (/root/reference/unittest/paragraphs_test.cc:94)
and its layout tests pin block *type sequences* in reading order
(unittest/layout_test.cc:53-117). Here the renderer and the truth table share
one layout spec, so truth spans are exact by construction.

Coordinate system: top-down y (SURVEY.md §7 risk register — the reference's
TBOX is bottom-up, rect.h:40; we standardize on top-down and never convert).

Geometry contract shared with the recognizer (operators/layout.py):
  * glyphs are 5x7 bitmaps upscaled by integer ``s`` (body) / ``2s`` (heading)
  * char pitch 6s, word space one extra cell → inter-word ink gap 7s
  * line pitch within a block = 12s (ink 7s + leading 5s)
  * vertical gap between blocks = 30s; caption sits 12s under its image
  * column gutter = 24s of full-height whitespace
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .font import (ARABIC_NORM, CELL_H, CELL_W, GLYPH_H, GLYPH_W, GLYPHS,
                   STRONG_ARABIC, STRONG_DEVANAGARI, smudge_glyph)

WHITE = np.uint8(255)
INK = np.uint8(0)


def rotate_nn(img: np.ndarray, deg: float, fill) -> np.ndarray:
    """Rotate `img` by `deg` (counterclockwise, about the center) with
    nearest-neighbor sampling; output expands to contain the rotated frame,
    background = `fill`."""
    if abs(deg) < 1e-9:
        return img
    h, w = img.shape[:2]
    rad = np.deg2rad(deg)
    c, s = np.cos(rad), np.sin(rad)
    out_w = int(np.ceil(abs(w * c) + abs(h * s)))
    out_h = int(np.ceil(abs(w * s) + abs(h * c)))
    cy_in, cx_in = (h - 1) / 2.0, (w - 1) / 2.0
    cy_out, cx_out = (out_h - 1) / 2.0, (out_w - 1) / 2.0
    yy, xx = np.meshgrid(np.arange(out_h), np.arange(out_w), indexing="ij")
    # inverse map: output pixel -> source pixel (rotate by -deg)
    dx = xx - cx_out
    dy = yy - cy_out
    sx = np.rint(c * dx - s * dy + cx_in).astype(np.int64)
    sy = np.rint(s * dx + c * dy + cy_in).astype(np.int64)
    ok = (sx >= 0) & (sx < w) & (sy >= 0) & (sy < h)
    out = np.full((out_h, out_w) + img.shape[2:], fill, dtype=img.dtype)
    out[ok] = img[sy[ok], sx[ok]]
    return out


# kind vocabulary (PolyBlockType-derived, publictypes.h:53-70)
FLOWING_TEXT = "flowing_text"
HEADING_TEXT = "heading_text"
CAPTION_TEXT = "caption_text"
PULLOUT_TEXT = "pullout_text"
FLOWING_IMAGE = "flowing_image"
PULLOUT_IMAGE = "pullout_image"
HORZ_LINE = "horz_line"
VERT_LINE = "vert_line"
TABLE = "table"
EQUATION = "equation"
INLINE_EQUATION = "inline_equation"
VERTICAL_TEXT = "vertical_text"

TEXT_KINDS = {FLOWING_TEXT, HEADING_TEXT, CAPTION_TEXT, PULLOUT_TEXT, TABLE,
              EQUATION, INLINE_EQUATION, VERTICAL_TEXT}
IMAGE_KINDS = {FLOWING_IMAGE, PULLOUT_IMAGE}
LINE_KINDS = {HORZ_LINE, VERT_LINE}


@dataclass
class Text:
    """A text element. role: body | heading | caption | equation.
    col=None → full width. Equations render centered in their column at body
    scale (display-equation layout, equationdetect.cpp:351 grows centered
    isolated seed regions)."""

    lines: list[str]
    role: str = "body"
    col: int | None = 0
    track_units: int = 0  # extra letter-spacing in font units: char advance
                          # becomes (CELL_W + track_units) * s — exercises the
                          # fixed-pitch estimator (A7, topitch.cpp:74)
    track_lines: dict[int, int] | None = None  # per-line letter-spacing
                          # override (line index → track units): lets ONE line
                          # run long into the gutter (ragged_page, the J4
                          # tab-vector fixture) while the rest stay nominal
    truth_lines: list[str] | None = None  # hand-written LOGICAL reading
                          # order when it differs from the POSITIONAL
                          # rendering order — the bidi fixtures (W4,
                          # resultiterator_test.cc:480-539) draw words
                          # left-to-right but read them in bidi order
    smudges: dict | None = None  # {(line_idx, char_idx): toward_char}:
                          # render that glyph corrupted past the hamming
                          # midpoint toward another glyph (font.smudge_glyph)
                          # so greedy decode misreads it — only the K4 beam +
                          # dictionary re-decode recovers the truth text
    adv_tweaks: dict | None = None  # {(line_idx, char_idx): advance_units}:
                          # the advance AFTER that char becomes units*es px —
                          # a sub-word-gap kerning error creating the FUZZY
                          # space C15's fix_fuzzy_spaces must resolve (a
                          # too-wide in-word gap splits a word, a too-narrow
                          # inter-word gap fuses two; fixspace.cpp:79)


@dataclass
class MixedText:
    """A flowing paragraph with equation rows embedded at NORMAL line pitch
    (no block gap) — the inline-equation shape (PT_INLINE_EQUATION,
    /root/reference/src/ccmain/equationdetect.cpp:351 grows equation seeds
    INSIDE flowing text). Truth: alternating flowing_text / inline_equation
    blocks, consecutive in reading order."""

    lines: list[str]
    eq_rows: tuple[int, ...]
    col: int | None = 0


@dataclass
class ImageRect:
    """A solid photo-like rectangle. w_frac of column width, h in px units of s."""

    h_units: int = 60  # height = h_units * s
    w_frac: float = 0.5
    col: int | None = 0
    full_page: bool = False  # F04: one big photo covering most of the page


@dataclass
class TexturedImage:
    """A photo-like region made of dense small dots (halftone texture) —
    NOT a solid rectangle, so fill-ratio grading can't see it; detection
    needs the blob-density non-text mask (F7, ccnontextdetect.cpp:88)."""

    h_units: int = 50
    w_frac: float = 0.6
    dot_px: int = 2       # dot side in px
    pitch_px: int = 5     # dot grid pitch in px
    col: int | None = 0


@dataclass
class DiscImage:
    """A filled disc — a solid photo-like shape whose bbox fill (~0.785) is
    below the rectangle threshold, so detecting it requires stroke-width
    grading (C1, strokewidth.cpp:344), not the fill-ratio rule."""

    d_units: int = 40  # diameter = d_units * s
    col: int | None = 0


@dataclass
class LeaderLine:
    """A table-of-contents line: left text, a run of dot leaders, right
    text (page number). The reference detects the dot run as a leader
    partition (strokewidth.cpp:260 FindLeaderPartitions) and keeps it out
    of the text flow — our truth text is left + right with the dots gone."""

    left_text: str
    right_text: str
    dot_px: int = 2
    dot_pitch_px: int = 6
    col: int | None = 0


@dataclass
class Rule:
    """A horizontal separator rule spanning the column width (the reference
    finds and removes these with Leptonica morphology, linefind.cpp:706;
    their block type is PT_HORZ_LINE)."""

    thickness_units: int = 2  # thickness = thickness_units * s
    col: int | None = 0


@dataclass
class StaffLines:
    """A music staff: n thin full-width horizontal rules at a tight regular
    pitch, with a few note dots between the lines. The reference ORs a
    music mask into the photo mask (pagesegmain.cpp:253
    `photomask_pix |= musicmask_pix`), so the whole staff must come out as
    ONE image region — not five separator rules plus noise."""

    n_lines: int = 5
    pitch_units: int = 4      # top-to-top pitch in s units
    thickness_units: int = 1
    n_notes: int = 4
    col: int | None = 0


@dataclass
class TableGrid:
    """A monospace table: rows of left-aligned cells at fixed column starts,
    separated by sep_chars blank cells — the aligned-whitespace structure
    the reference's table finder keys on (tablefind.cpp:200).

    `layout` (optional, parallel to `cells`) gives each row's visible cells
    as (col_start, col_span) grid positions — a spanning cell covers
    several grid columns and suppresses the aligned gap the grid expects
    there (StructuredTable merged-cell semantics, reference
    src/textord/tablerecog.cpp:62). Default: one cell per grid column."""

    cells: list[list[str]]
    col_chars: list[int]
    sep_chars: int = 4
    col: int | None = 0
    layout: list[list[tuple[int, int]]] | None = None


@dataclass
class VerticalText:
    """A vertically-set word: one glyph per line, stacked top-to-bottom in a
    single char-cell-wide column (the layout IsVerticallyAlignedText keys on,
    /root/reference/src/textord/strokewidth.cpp:211; vertical partitions get
    PT_VERTICAL_TEXT). Truth text is the word read top-to-bottom."""

    chars: str
    col: int | None = 0


@dataclass
class PageSpec:
    elements: list[Text | ImageRect] = field(default_factory=list)
    scale: int = 2
    n_cols: int = 1
    width_chars: int = 18  # per column
    noise_frac: float = 0.0
    bow_px: int = 0        # quadratic baseline sag: columns shift down by
                           # bow_px*((x-xc)/(w/2))^2 after layout (A4)
    wave_px: int = 0       # sinusoidal multi-bow warp: columns shift by
                           # wave_px*sin(2π*wave_periods*x/w) — beyond one
                           # quadratic term, needs the spline residual pass
                           # (A4 v2, baselinedetect.cpp:909 QSPLINE)
    wave_periods: float = 1.5
    skew_deg: float = 0.0  # page rotated by this angle after layout (C6)
    rot90: int = 0         # quarter-turns applied after layout (C10 OSD)
    gradient_depth: int = 0  # uneven illumination: bg falls to 255-depth
                             # across the page and ink tracks bg-110 (F10)
    rtl: bool = False      # right-to-left reading order: columns read
                           # rightmost-first (layout_test.cc:215-236 Hebrew);
                           # elements must then be grouped by DESCENDING col
    side_stack: tuple[str, int, int] | None = None  # (chars, x_units, row0):
                           # a vertically-set word drawn at absolute
                           # x = x_units*s (font units from page left),
                           # starting at column-row row0, BESIDE the column
                           # text rather than between blocks — the embedded
                           # vertical-text case only good-neighbour flow can
                           # separate (J2). Truth appends it LAST (it must
                           # sit right of every line's ink).
    cut_x_frac: float | None = None  # white out a 1px vertical strip at
                           # x = page_w*frac AFTER layout: splits glyphs into
                           # fragments the broken-char repair must rejoin
                           # (C3, strokewidth.cpp:588 FixBrokenCJK)
    seed: int = 0


@dataclass
class TruthBlock:
    kind: str
    text: str | None  # None for image kinds


def _render_line(canvas: np.ndarray, x: int, y: int, text: str, s: int,
                 advance: int | None = None,
                 smudge: dict[int, str] | None = None,
                 tweaks: dict[int, int] | None = None) -> int:
    """Draw one line of text at (x, y) top-left with scale s. Returns ink width.
    `advance` is the char pitch in px (default the nominal CELL_W*s grid);
    `smudge` maps char index → toward-char for corrupted rendering (K4);
    `tweaks` maps char index → advance px used AFTER that char (C15)."""
    adv = CELL_W * s if advance is None else advance
    advs = [(tweaks or {}).get(i, adv) for i in range(len(text))]
    need = sum(advs[:-1]) + GLYPH_W * s if text else 0
    if x + need > canvas.shape[1] or y + GLYPH_H * s > canvas.shape[0]:
        raise ValueError(f"text {text!r} at scale {s} overflows the page/column")
    cx = x
    for i, ch in enumerate(text):
        if ch != " ":
            bits = (smudge_glyph(ch, smudge[i]) if smudge and i in smudge
                    else GLYPHS[ch])
            tile = np.kron(bits, np.ones((s, s), dtype=bool))
            canvas[y : y + GLYPH_H * s, cx : cx + GLYPH_W * s][tile] = INK
            # shiro rekha (F9): between two adjacent Devanagari letters the
            # headline continues across the padding column, fusing the word
            # into ONE connected component — the property the kernel's
            # _split_shiro_rekha exists to undo (devanagari_processing.cpp).
            if (i + 1 < len(text) and ch in STRONG_DEVANAGARI
                    and text[i + 1] in STRONG_DEVANAGARI):
                canvas[y : y + s, cx + GLYPH_W * s : cx + advs[i]] = INK
            # Arabic cursive joining: the BASELINE (bottom row) continues
            # across the padding exactly when the current letter carries
            # a JOINED positional form — shape_arabic assigns that form
            # iff the letter connects forward to its (logical) neighbor,
            # so the test is local. Fuses the word along its bottom edge;
            # the kernel's baseline splitter (the bottom-half branch of
            # _split_shiro_rekha) undoes it before pitch/decode.
            if (i + 1 < len(text) and ch in ARABIC_NORM
                    and text[i + 1] in STRONG_ARABIC):
                canvas[y + (GLYPH_H - 1) * s : y + GLYPH_H * s,
                       cx + GLYPH_W * s : cx + advs[i]] = INK
        cx += advs[i]
    return cx - x


def render_page(spec: PageSpec) -> tuple[np.ndarray, list[TruthBlock]]:
    """Render a page; return (gray uint8 image, truth blocks in reading order).

    Reading order contract (the W2 invariant, colfind.cpp:1529 /
    layout_test.cc:122-147): full-width elements top-down first, then column 0
    top-down, then column 1, ... . ``spec.elements`` MUST already be listed in
    that order; this function asserts it.
    """
    s = spec.scale
    cw = CELL_W * s
    line_pitch = 12 * s
    block_gap = 30 * s
    caption_gap = 12 * s
    margin = 8 * s
    gutter = 24 * s
    col_w = spec.width_chars * cw
    page_w = 2 * margin + spec.n_cols * col_w + (spec.n_cols - 1) * gutter

    # --- order sanity: full-width first, then by column in reading order
    # (ascending for LTR, descending for RTL) ---
    order_keys = [(-1 if e.col is None else e.col) for e in spec.elements]
    fw = [k for k in order_keys if k == -1]
    assert order_keys[: len(fw)] == fw, "full-width elements must come first"
    cols_seen = [k for k in order_keys if k >= 0]
    assert cols_seen == sorted(cols_seen, reverse=spec.rtl), \
        "elements must be grouped by column in reading order"

    # --- measure heights ---
    def elem_height(e) -> int:
        if isinstance(e, Text):
            es = s * (2 if e.role == "heading" else 1)
            n = len(e.lines)
            return (n - 1) * 12 * es + GLYPH_H * es
        if isinstance(e, MixedText):
            return (len(e.lines) - 1) * 12 * s + GLYPH_H * s
        if isinstance(e, Rule):
            return e.thickness_units * s
        if isinstance(e, StaffLines):
            return (e.n_lines - 1) * e.pitch_units * s + e.thickness_units * s
        if isinstance(e, TexturedImage):
            return e.h_units * s
        if isinstance(e, LeaderLine):
            return GLYPH_H * s
        if isinstance(e, VerticalText):
            return (len(e.chars) - 1) * 12 * s + GLYPH_H * s
        if isinstance(e, DiscImage):
            return e.d_units * s
        if isinstance(e, TableGrid):
            return (len(e.cells) - 1) * 12 * s + GLYPH_H * s
        if e.full_page:
            return 0  # resolved later against page height
        return e.h_units * s

    def gap_before(prev: Text | ImageRect | None, e: Text | ImageRect) -> int:
        if prev is None:
            return 0
        if isinstance(e, Text) and e.role == "caption" and isinstance(prev, ImageRect):
            return caption_gap
        return block_gap

    full_width = [e for e in spec.elements if e.col is None]
    by_col: dict[int, list[Text | ImageRect]] = {}
    for e in spec.elements:
        if e.col is not None:
            by_col.setdefault(e.col, []).append(e)

    y = margin
    fw_pos: list[tuple[Text | ImageRect, int]] = []
    prev: Text | ImageRect | None = None
    for e in full_width:
        y += gap_before(prev, e)
        fw_pos.append((e, y))
        y += elem_height(e)
        prev = e
    col_y0 = y + (block_gap if full_width else 0)

    col_heights = []
    col_pos: dict[int, list[tuple[Text | ImageRect, int]]] = {}
    for c, elems in by_col.items():
        cy = col_y0
        prev = None
        pos = []
        for e in elems:
            cy += gap_before(prev, e)
            pos.append((e, cy))
            cy += elem_height(e)
            prev = e
        col_pos[c] = pos
        col_heights.append(cy)
    page_h = max([col_y0] + col_heights) + margin
    if any(isinstance(e, ImageRect) and e.full_page for e in spec.elements):
        page_h = max(page_h, 140 * s)

    canvas = np.full((page_h, page_w), WHITE, dtype=np.uint8)
    truth: list[TruthBlock] = []

    def draw(e, y0: int, col: int | None) -> None:
        x0 = margin if col is None else margin + col * (col_w + gutter)
        avail_w = page_w - 2 * margin if col is None else col_w
        if isinstance(e, MixedText):
            yy = y0
            for ln in e.lines:
                _render_line(canvas, x0, yy, ln, s)
                yy += 12 * s
            # truth: alternating flowing / inline_equation runs
            i0 = 0
            eq = [i in e.eq_rows for i in range(len(e.lines))]
            for k in range(1, len(e.lines) + 1):
                if k < len(e.lines) and eq[k] == eq[i0]:
                    continue
                truth.append(TruthBlock(
                    INLINE_EQUATION if eq[i0] else FLOWING_TEXT,
                    "\n".join(e.lines[i0:k])))
                i0 = k
            return
        if isinstance(e, Rule):
            canvas[y0 : y0 + e.thickness_units * s, x0 : x0 + avail_w] = INK
            truth.append(TruthBlock(HORZ_LINE, None))
            return
        if isinstance(e, StaffLines):
            th = e.thickness_units * s
            pitch = e.pitch_units * s
            for i in range(e.n_lines):
                yy = y0 + i * pitch
                canvas[yy : yy + th, x0 : x0 + avail_w] = INK
            # note dots between the lines, clear of the lines (>=1px gap);
            # they must be swallowed by the music mask, not read as text
            gap = pitch - th
            dside = max(2, gap - 2)
            for k in range(e.n_notes):
                line_i = k % (e.n_lines - 1)
                ny = y0 + line_i * pitch + th + 1
                nx = x0 + int(avail_w * (k + 1) / (e.n_notes + 1))
                canvas[ny : ny + dside, nx : nx + dside] = INK
            frac = avail_w / (page_w - 2 * margin)
            truth.append(TruthBlock(
                FLOWING_IMAGE if frac > 0.7 else PULLOUT_IMAGE, None))
            return
        if isinstance(e, LeaderLine):
            lw = _render_line(canvas, x0, y0, e.left_text, s)
            rw = len(e.right_text) * CELL_W * s - s
            xr = x0 + avail_w - rw
            _render_line(canvas, xr, y0, e.right_text, s)
            # dot leaders vertically centered on the row, clear of both texts
            dot_y = y0 + (GLYPH_H * s) // 2
            lx = x0 + lw + CELL_W * s
            while lx + e.dot_px < xr - CELL_W * s:
                canvas[dot_y : dot_y + e.dot_px, lx : lx + e.dot_px] = INK
                lx += e.dot_pitch_px
            truth.append(TruthBlock(FLOWING_TEXT, f"{e.left_text} {e.right_text}"))
            return
        if isinstance(e, TexturedImage):
            h = e.h_units * s
            wdt = int(avail_w * e.w_frac)
            xr = x0 + (avail_w - wdt) // 2
            for yy in range(y0, y0 + h - e.dot_px + 1, e.pitch_px):
                for xx in range(xr, xr + wdt - e.dot_px + 1, e.pitch_px):
                    canvas[yy : yy + e.dot_px, xx : xx + e.dot_px] = INK
            frac = wdt / (page_w - 2 * margin)
            truth.append(TruthBlock(FLOWING_IMAGE if frac > 0.7 else PULLOUT_IMAGE, None))
            return
        if isinstance(e, VerticalText):
            yy = y0
            for ch in e.chars:
                _render_line(canvas, x0, yy, ch, s)
                yy += 12 * s
            truth.append(TruthBlock(VERTICAL_TEXT, e.chars))
            return
        if isinstance(e, DiscImage):
            d = e.d_units * s
            r = d / 2.0
            cx = x0 + avail_w // 2
            xl = cx - d // 2
            yy, xx = np.meshgrid(np.arange(y0, y0 + d), np.arange(xl, xl + d),
                                 indexing="ij")
            mask = (yy + 0.5 - (y0 + r)) ** 2 + (xx + 0.5 - (xl + r)) ** 2 <= r * r
            canvas[y0 : y0 + d, xl : xl + d][mask] = INK
            frac = d / (page_w - 2 * margin)
            truth.append(TruthBlock(FLOWING_IMAGE if frac > 0.7 else PULLOUT_IMAGE, None))
            return
        if isinstance(e, TableGrid):
            starts = [0]
            for wch in e.col_chars[:-1]:
                starts.append(starts[-1] + wch + e.sep_chars)
            yy = y0
            for ri, row in enumerate(e.cells):
                lay = (e.layout[ri] if e.layout is not None
                       else [(j, 1) for j in range(len(row))])
                assert len(lay) == len(row), (ri, lay, row)
                for (cstart, cspan), cell in zip(lay, row):
                    # a spanning cell may use the whole width of the grid
                    # columns it covers (incl. the separators it bridges)
                    avail = (sum(e.col_chars[cstart : cstart + cspan])
                             + (cspan - 1) * e.sep_chars)
                    assert len(cell) <= avail, (cell, avail)
                    _render_line(canvas, x0 + starts[cstart] * cw, yy,
                                 cell, s)
                yy += 12 * s
            # cell-structured truth (C8 v2, tablerecog.cpp): TAB between
            # VISIBLE cells, newline between rows — matches decode_table's
            # split at the aligned gaps (a spanning cell appears once)
            truth.append(TruthBlock(TABLE, "\n".join("\t".join(r) for r in e.cells)))
            return
        if isinstance(e, Text):
            es = s * (2 if e.role == "heading" else 1)
            yy = y0
            for li, ln in enumerate(e.lines):
                tr = (e.track_lines or {}).get(li, e.track_units)
                adv = (CELL_W + tr) * es
                sm = ({ci: c2 for (li2, ci), c2 in e.smudges.items()
                       if li2 == li} if e.smudges else None)
                tw = ({ci: u * es for (li2, ci), u in e.adv_tweaks.items()
                       if li2 == li} if e.adv_tweaks else None)
                if e.role == "equation":
                    need = (len(ln) - 1) * adv + GLYPH_W * es
                    _render_line(canvas, x0 + (avail_w - need) // 2, yy, ln, es,
                                 advance=adv, smudge=sm, tweaks=tw)
                else:
                    _render_line(canvas, x0, yy, ln, es, advance=adv,
                                 smudge=sm, tweaks=tw)
                yy += 12 * es
            kind = {"body": FLOWING_TEXT, "heading": HEADING_TEXT,
                    "caption": CAPTION_TEXT, "equation": EQUATION,
                    "pullout": PULLOUT_TEXT}[e.role]
            truth.append(TruthBlock(kind, "\n".join(e.truth_lines or e.lines)))
        else:
            if e.full_page:
                h = page_h - 2 * margin - (y0 - margin)
                w = avail_w
                xr = x0
            else:
                h = e.h_units * s
                w = int(avail_w * e.w_frac)
                xr = x0 + (avail_w - w) // 2
            canvas[y0 : y0 + h, xr : xr + w] = INK
            frac = w / (page_w - 2 * margin)
            truth.append(TruthBlock(FLOWING_IMAGE if frac > 0.7 else PULLOUT_IMAGE, None))

    for e, y0 in fw_pos:
        draw(e, y0, None)
    for c in sorted(col_pos, reverse=spec.rtl):
        for e, y0 in col_pos[c]:
            draw(e, y0, c)

    if spec.side_stack is not None:
        chars, x_units, row0 = spec.side_stack
        yy = col_y0 + row0 * 12 * s
        for ch in chars:
            _render_line(canvas, x_units * s, yy, ch, s)
            yy += 12 * s
        truth.append(TruthBlock(VERTICAL_TEXT, chars))

    if spec.cut_x_frac is not None:
        canvas[:, int(page_w * spec.cut_x_frac)] = WHITE

    if spec.noise_frac > 0:
        rng = np.random.default_rng(spec.seed)
        # single-pixel salt specks on a stride-3 grid (so no two specks ever
        # merge into a bigger blob), kept >=2px from real ink so truth stays
        # exact — the noise filter F4/F8 must remove them (tordmain.cpp:287)
        ink = canvas == INK
        dil = ink.copy()
        for dy in (-2, -1, 0, 1, 2):
            for dx in (-2, -1, 0, 1, 2):
                dil |= np.roll(np.roll(ink, dy, 0), dx, 1)
        gy = np.arange(2, page_h - 2, 3)
        gx = np.arange(2, page_w - 2, 3)
        yy, xx = np.meshgrid(gy, gx, indexing="ij")
        yy, xx = yy.ravel(), xx.ravel()
        ok = ~dil[yy, xx]
        yy, xx = yy[ok], xx[ok]
        n_specks = min(int(spec.noise_frac * page_h * page_w), yy.shape[0])
        pick = rng.choice(yy.shape[0], size=n_specks, replace=False)
        canvas[yy[pick], xx[pick]] = INK

    if spec.gradient_depth:
        yy, xx = np.meshgrid(np.arange(page_h), np.arange(page_w), indexing="ij")
        bg = 255.0 - spec.gradient_depth * (xx + yy) / (page_w + page_h)
        shaded = np.where(canvas == INK, bg - 110.0, bg)
        canvas = np.clip(shaded, 0, 255).astype(np.uint8)
    if spec.bow_px:
        from ..functions.geometry import shift_columns

        half = max(page_w / 2.0, 1.0)
        u = ((np.arange(page_w) - page_w / 2.0) / half) ** 2
        canvas = shift_columns(canvas, np.rint(spec.bow_px * u), WHITE)
    if spec.wave_px:
        from ..functions.geometry import shift_columns

        ph = np.sin(2.0 * np.pi * spec.wave_periods
                    * np.arange(page_w) / page_w)
        canvas = shift_columns(canvas, np.rint(spec.wave_px * ph), WHITE)
    if spec.skew_deg:
        canvas = rotate_nn(canvas, spec.skew_deg, WHITE)
    if spec.rot90 % 4:
        canvas = np.rot90(canvas, spec.rot90 % 4).copy()

    return canvas, truth
