"""Per-page analysis kernel: the whole Tesseract flow for one page, numpy-only.

This is the computation the reference runs in
TessBaseAPI::Recognize → FindLines → SegmentPage → ColumnFinder::FindBlocks →
TextordPage → recog_all_words (trace in SURVEY.md §3.2, files
/root/reference/src/api/baseapi.cpp:1319, src/ccmain/pagesegmain.cpp:100,
src/textord/colfind.cpp:296, src/textord/textord.cpp:178). Pages are a few
thousand blobs, so — per SURVEY.md §2.3 — all spatial "joins" happen inside
this kernel with sorted numpy arrays; Spark parallelism is *across* pages.

Stages (reference citations per function):
  binarize        F1/F2  otsuthr.cpp:37
  label_blobs     F3     edgblob.cpp:343
  noise filter    F4/F8  tordmain.cpp:287, makerow.cpp:509
  image grading   F6/C1  imagefind.cpp:260, strokewidth.cpp:344
  row clustering  J3/A2  makerow.cpp:2263 (assign_blobs_to_rows)
  column finding  C5/W1  tabfind.cpp:833, colfind.cpp:605
  block formation W2     colfind.cpp:1529 (TransformToBlocks)
  reading order   W2     vertical-first XY-cut == column-major flush order
                         (columns left→right, top→bottom within column,
                          workingpartset.cpp:80; invariant layout_test.cc:122)
  kind typing     C7     colfind.h:257 (SetPartitionTypes) — heading/caption
  word segment    C13    wordseg.cpp:101 (make_words), tospace.cpp:43
  recognition     C11    template decode against the shared glyph LUT
                         (stands in for lstmrecognizer.cpp:263; see font.py)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..fixtures.font import (
    CELL_W,
    ARABIC_NORM,
    DECODE_CHARS,
    DECODE_MATRIX,
    GLYPH_H,
    GLYPH_W,
    STRONG_LTR,
    STRONG_RTL,
    STRONG_THAI,
)
from ..fixtures.lexicon import LEXICON, THAI_LEXICON, THAI_MAX_WORD
from .bidi import DIR_LTR, DIR_MIX, DIR_NEUTRAL, DIR_RTL, textline_order
from .recognizer import template_recognizer

DECODE_BOOL = DECODE_MATRIX.astype(bool)
from ..fixtures.render import (
    CAPTION_TEXT,
    EQUATION,
    FLOWING_IMAGE,
    FLOWING_TEXT,
    HEADING_TEXT,
    HORZ_LINE,
    INLINE_EQUATION,
    PULLOUT_IMAGE,
    PULLOUT_TEXT,
    TABLE,
    VERT_LINE,
    VERTICAL_TEXT,
)
from ..functions.cclabel import Blobs, label_blobs
from ..functions.geometry import (
    estimate_skew_bow,
    estimate_warp,
    fast_median,
    profile_sharpness,
    shear_y,
    shift_columns,
)
from ..functions.otsu import binarize

NOISE_AREA = 2          # blobs with <= this many ink px are specks (F4)
IMAGE_FILL = 0.85       # solid-rectangle fill ratio → photo region (F6)
IMAGE_MIN_SIDE = 20     # px; glyphs never reach this at fill >= 0.85
HEADING_RATIO = 1.4     # row scale vs page body scale → heading (C7)
WORD_GAP_UNITS = 3      # ink gap > 3*s → word boundary (tospace.cpp:43)
BLOCK_GAP_UNITS = 8     # ink gap > 8*s between rows → new block
GUTTER_UNITS = 12       # x-projection gap >= 12*s → column gutter (C5)
CAPTION_GAP_UNITS = 18  # text block within 18*s below an image → caption
LINE_ASPECT = 8         # w >= 8*h (or h >= 8*w) and long side >= LINE_MIN →
LINE_MIN_LEN = 40       # separator rule (F5, linefind.cpp:706)
TABLE_GAP_UNITS = 14    # internal aligned gap > 14*s → table cell gap (C8)
TABLE_MIN_GAPS = 2      # >= 2 aligned gaps (3+ columns) → table, not gutter
MICRO_MAX_SIDE = 4      # blob sides <= this → halftone-dot candidate (F7)
TAB_CLEAR_UNITS = 8     # whitespace left of an edge >= 8*s → tab candidate;
                        # word gaps are 7*s at nominal tracking, so they
                        # never qualify (J4, tabfind.cpp:833)
TAB_MIN_ROWS = 3        # aligned candidate edges from >= 3 distinct rows
                        # form a tab vector (tabvector.cpp minimum support)
DENSITY_CELL_PX = 16    # density-grid cell size
DENSITY_CELL_MIN = 3    # micro blobs per cell to call the cell photo-dense
DENSITY_MIN_BLOBS = 16  # skip the mask entirely below this page total


@dataclass
class Block:
    order: int
    kind: str
    text: str | None
    left: int
    top: int
    right: int
    bottom: int
    # word-level hierarchy (S5/S7 full renderer depth, GetTSVText levels 3-5
    # baseapi.cpp:2205; hOCR ocr_par/ocr_line/ocrx_word hocrrenderer.cpp:136):
    # flat (para_num, line_num, word_num, text, l, t, r, b, conf, syms,
    # lmeta) per word, para_num from the wired paragraph detector (W6,
    # DetectParagraphs inside Recognize, baseapi.cpp:1417); lmeta is the
    # per-line (x_size, base_slope, base_off) typography (_line_metrics).
    # `syms` is the word's per-SYMBOL
    # tuple ((char, l, t, r, b, conf), ...) aligned 1:1 with the word text —
    # the RIL_SYMBOL depth GetBoxText walks (baseapi.cpp:2391). None for
    # blocks with no word decode (images, rules, tables, vertical chains,
    # layout-only runs).
    words: list[tuple] | None = None
    # table cell structure (C8 v3, StructuredTable semantics — reference
    # src/textord/tablerecog.cpp:62 recognizes column segments and merged
    # cells after tablefind detection): one (row_idx, cell_idx, col_start,
    # col_span, text) per VISIBLE cell — a spanning cell (a header over
    # several body columns) appears once with col_span > 1. None for
    # non-table blocks.
    cells: list[tuple] | None = None


def _merge_x_overlaps(left: np.ndarray, top: np.ndarray, right: np.ndarray,
                      bottom: np.ndarray,
                      repair_gap: int = 0) -> tuple[np.ndarray, ...]:
    """Merge blobs in one row whose x-intervals overlap (J6 diacritic/fragment
    attachment, strokewidth.cpp:1491) → char-group boxes sorted by x.

    repair_gap > 0 additionally merges fragments separated by at most that
    many white pixels — broken-character repair (C3, strokewidth.cpp:588
    FixBrokenCJK rejoins glyphs split by scanning artifacts). The gap is set
    below the inter-char gap (one scale unit), so genuine character
    boundaries never merge."""
    order = np.argsort(left, kind="stable")
    left, top, right, bottom = left[order], top[order], right[order], bottom[order]
    # group where next left > running max right
    run_max = np.maximum.accumulate(right)
    new_grp = np.ones(left.shape[0], dtype=bool)
    new_grp[1:] = left[1:] > run_max[:-1] + repair_gap
    gid = np.cumsum(new_grp) - 1
    k = gid[-1] + 1
    gl = np.full(k, np.iinfo(np.int64).max)
    gr = np.zeros(k, dtype=np.int64)
    gt = np.full(k, np.iinfo(np.int64).max)
    gb = np.zeros(k, dtype=np.int64)
    np.minimum.at(gl, gid, left)
    np.maximum.at(gr, gid, right)
    np.minimum.at(gt, gid, top)
    np.maximum.at(gb, gid, bottom)
    return gl, gt, gr, gb


def _merge_pitch_cells(gl: np.ndarray, gt: np.ndarray, gr: np.ndarray,
                       gb: np.ndarray, s: int
                       ) -> tuple[np.ndarray, ...]:
    """CJK fragment merge — the cjkpitch decision applied at the group
    level (FPRow::MergeFragments, /root/reference/src/textord/
    cjkpitch.cpp:862: fragments are merged into the character the pitch
    grid expects, bounded by the estimated character BODY size, never by
    gap alone). A CJK character may be several disconnected components
    (川 = three strokes, 三 = three bars) whose intra-character gaps EQUAL
    the inter-character padding gap, so gap-based grouping cannot separate
    stroke boundaries from character boundaries.

    The discriminator is the body bound: adjacent groups merge only while
    the merged span still fits one glyph cell (GLYPH_W*s, +2 px jitter
    slack) and the gap is at most one scale unit. Every full glyph spans
    exactly GLYPH_W units (the font's edge-contact invariant), so two real
    characters can never merge (their span would be >= 11 units) — Latin,
    tracked, and fuzzy-gap rows pass through untouched."""
    n = gl.shape[0]
    if n < 2:
        return gl, gt, gr, gb
    max_span = GLYPH_W * s + 2
    gaps = gl[1:] - gr[:-1] - 1
    if not (gaps <= s).any():
        return gl, gt, gr, gb
    gid = np.empty(n, dtype=np.int64)
    gid[0] = 0
    cur_left = int(gl[0])
    k = 0
    for i in range(1, n):
        if (int(gaps[i - 1]) <= s
                and int(gr[i]) - cur_left + 1 <= max_span):
            gid[i] = k
        else:
            k += 1
            gid[i] = k
            cur_left = int(gl[i])
    if k == n - 1:
        return gl, gt, gr, gb
    m = k + 1
    ml = np.full(m, np.iinfo(np.int64).max)
    mr = np.zeros(m, dtype=np.int64)
    mt = np.full(m, np.iinfo(np.int64).max)
    mb = np.zeros(m, dtype=np.int64)
    np.minimum.at(ml, gid, gl)
    np.maximum.at(mr, gid, gr)
    np.minimum.at(mt, gid, gt)
    np.maximum.at(mb, gid, gb)
    return ml, mt, mr, mb


def decode_tables(whitelist: str | None, recognizer: str = "template"):
    """Recognizer restricted to a character whitelist (SetBlackAndWhitelist,
    baseapi.cpp:1338) — decode picks the lowest-cost character among these
    only. None/empty → the full character set. `recognizer` selects the
    C11 strategy behind the seam (operators/recognizer.py): 'template'
    hamming LUT or the trained 'model' pack."""
    from .recognizer import get_recognizer

    base = get_recognizer(recognizer)
    return base.restrict(set(whitelist)) if whitelist else base


def _thai_segment(text: str) -> list[tuple[int, int]] | None:
    """Greedy longest-match over THAI_LEXICON: [a, z) char ranges covering
    the whole run, or None if any position has no dictionary match."""
    out: list[tuple[int, int]] = []
    i = 0
    n = len(text)
    while i < n:
        for ln in range(min(THAI_MAX_WORD, n - i), 0, -1):
            if text[i:i + ln] in THAI_LEXICON:
                out.append((i, i + ln))
                i += ln
                break
        else:
            return None
    return out


def _word_direction(word: str) -> int:
    """StrongScriptDirection of one decoded word (the per-word input of the
    bidi reorder, reference resultiterator.cpp:121 CalculateBlobOrder /
    osdetect.cpp script votes): letters vote their script, digits and
    punctuation are neutral, both scripts in one word = MIX."""
    has_rtl = any(c in STRONG_RTL for c in word)
    has_ltr = any(c in STRONG_LTR for c in word)
    if has_rtl and has_ltr:
        return DIR_MIX
    if has_rtl:
        return DIR_RTL
    if has_ltr:
        return DIR_LTR
    return DIR_NEUTRAL


def _decode_row(ink: np.ndarray, row_top: int, row_bottom: int,
                gl: np.ndarray, gr: np.ndarray, s: int,
                rec=None,
                rtl: bool = False,
                gt: np.ndarray | None = None,
                gb: np.ndarray | None = None
                ) -> tuple[str, int, int, list[tuple]]:
    """Decode one text row through the C11 recognizer seam: split
    char-groups into words by gap, map each word onto its char-cell grid,
    downsample cells to 5x7, score every cell against the character set via
    `rec.cost` (operators/recognizer.py — template hamming or the trained
    model; default template). Each cell is sampled at ±1px offsets and the
    best-scoring match wins, so the 1px jitter a deskewed page carries
    doesn't corrupt the decode.

    `gt` (per-group top edges, aligned with gl) anchors each cell's sample
    band at ITS OWN glyph top instead of the row top: the font invariant
    (ink in glyph row 0) makes the two identical on a clean page, but under
    residual warp (A4 v2 spline pages) glyph tops drift ±2-3 px across a
    row and a single row-top band mis-samples the drifted cells — this is
    the per-blob half of the reference's baseline normalization (each blob
    is placed relative to its own fitted baseline, baselinedetect.cpp).

    The cell pitch is not assumed: it is the fixed-pitch decision (A7/C14,
    topitch.cpp:74 compute_fixed_pitch / fpchop.cpp:63) — the median start-to-
    start distance of adjacent in-word char groups, falling back to the
    nominal 6s grid on rows with no adjacent pairs (wide tracking renders
    every glyph separate, so starts ARE the pitch samples)."""
    if rec is None:
        rec = template_recognizer()
    lut_chars = rec.chars
    page_h, page_w = ink.shape
    # a glyph cell at scale s must fit on the page (noise "rows" on garbage
    # input can imply scales larger than the bitmap)
    s = max(1, min(s, page_h // GLYPH_H, page_w // GLYPH_W))
    if GLYPH_H * s > page_h or GLYPH_W * s > page_w:
        return "", 0, 0, []
    gaps = gl[1:] - gr[:-1] - 1
    word_break = gaps > WORD_GAP_UNITS * s
    # pitch histogram over adjacent in-word group starts (A7)
    deltas = (gl[1:] - gl[:-1])[~word_break]
    deltas = deltas[(deltas >= 5 * s) & (deltas <= 10 * s)]
    if deltas.shape[0] >= 2:
        # inline median of a tiny sorted array: np.median's _ureduce
        # dispatch costs more than the sort at this size (hot path —
        # once per decoded row). Same value: mean of the two middle
        # elements when even, the middle element when odd, then int().
        sd = np.sort(deltas)
        m = sd.shape[0] >> 1
        pitch = int(sd[m]) if sd.shape[0] & 1 else \
            int((float(sd[m - 1]) + float(sd[m])) / 2.0)
    else:
        pitch = 6 * s
    # word extents: groups are x-sorted and non-overlapping, so each word's
    # x0 is its first group's left and x1 its last group's right
    w_first = np.nonzero(np.concatenate([[True], word_break]))[0]
    w_last = np.concatenate([w_first[1:] - 1, [gl.shape[0] - 1]])
    x0s = gl[w_first]
    ns = np.maximum(np.rint(
        (gr[w_last] - x0s + 1 - GLYPH_W * s + pitch) / pitch).astype(np.int64), 1)
    # ALL cells of ALL words in one flat grid: one gather, one downsample,
    # one LUT hamming for the whole row
    n = int(ns.sum())
    cum = np.concatenate([[0], np.cumsum(ns)])
    in_word = np.arange(n) - np.repeat(cum[:-1], ns)
    starts = np.minimum(np.repeat(x0s, ns) + pitch * in_word,
                        page_w - GLYPH_W * s)
    cell_px = np.arange(GLYPH_W * s, dtype=np.int64)
    # per-cell top: the owning group's own top edge (nearest group by left
    # edge); falls back to the row top when no group array is supplied
    if gt is not None:
        g_idx = np.clip(np.searchsorted(gl, starts, side="right") - 1,
                        0, gl.shape[0] - 1)
        y0s = np.clip(gt[g_idx], 0, page_h - GLYPH_H * s)
    else:
        y0s = np.full(n, min(max(row_top, 0), page_h - GLYPH_H * s),
                      dtype=np.int64)
    if np.all(y0s == y0s[0]):
        # clean-page fast path: one contiguous band slice + column gather
        # (every glyph top equals the row top by the font edge invariant)
        y0 = int(y0s[0])
        cols = (starts[:, None] + cell_px[None, :]).ravel()
        band = ink[y0 : y0 + GLYPH_H * s, cols]
        # integer block sums instead of float means: sum/(s*s) > 0.5
        # iff 2*sum > s*s exactly (both sides small ints)
        bits = (
            band.reshape(GLYPH_H, s, n, GLYPH_W, s)
                .sum(axis=(1, 4), dtype=np.int64) * 2 > s * s
        ).transpose(1, 0, 2).reshape(n, GLYPH_H * GLYPH_W)
    else:
        # drifted rows (residual warp): full per-cell gather at each cell's
        # own top
        Yc = y0s[:, None] + np.arange(GLYPH_H * s, dtype=np.int64)[None, :]
        Xc = starts[:, None] + cell_px[None, :]
        band = ink[Yc[:, :, None], Xc[:, None, :]]      # (n, gh, gw)
        bits = (
            band.reshape(n, GLYPH_H, s, GLYPH_W, s)
                .sum(axis=(2, 4), dtype=np.int64) * 2 > s * s
        ).reshape(n, GLYPH_H * GLYPH_W)
    dists = rec.cost(bits)
    best = np.argmin(dists, axis=1)
    best_d = dists[np.arange(n), best]
    chars = [lut_chars[int(b)] for b in best]
    # slow path (rare: deskew/bow/rotation jitter): re-sample imperfect
    # cells at offsets up to ±2px vertically (residual quadratic-bow
    # correction error reaches ±2px at the page edges), ±1 horizontally,
    # keep the best-scoring match. Vectorized: one gather of
    # (bad cells × 15 offsets), one downsample, one hamming — offset
    # order preserved via argmin-first so ties resolve like the
    # sequential scan did.
    bad = np.nonzero(best_d > 0)[0]
    if bad.shape[0]:
        offs = np.array([(dy, dx) for dy in (0, -1, 1, -2, 2)
                         for dx in (0, -1, 1)], dtype=np.int64)
        gh, gw = GLYPH_H * s, GLYPH_W * s
        oy = np.clip(y0s[bad, None] + offs[None, :, 0],
                     0, page_h - gh)                               # (m,15)
        ox = np.clip(starts[bad, None] + offs[None, :, 1],
                     0, page_w - gw)                               # (m,15)
        Y = oy[:, :, None] + np.arange(gh)[None, None, :]          # (m,15,gh)
        X = ox[:, :, None] + np.arange(gw)[None, None, :]          # (m,15,gw)
        cells = ink[Y[:, :, :, None], X[:, :, None, :]]            # (m,15,gh,gw)
        cb = (cells.reshape(bad.shape[0], offs.shape[0],
                            GLYPH_H, s, GLYPH_W, s)
                   .sum(axis=(3, 5), dtype=np.int64) * 2 > s * s)
        bits2 = cb.reshape(bad.shape[0], offs.shape[0], GLYPH_H * GLYPH_W)
        d2 = rec.cost(bits2.reshape(-1, GLYPH_H * GLYPH_W)).reshape(
            bad.shape[0], offs.shape[0], len(lut_chars))
        per_off_min = d2.min(axis=2)
        per_off_arg = d2.argmin(axis=2)
        best_off = per_off_min.argmin(axis=1)
        rows_m = np.arange(bad.shape[0])
        newd = per_off_min[rows_m, best_off]
        newg = per_off_arg[rows_m, best_off]
        for t in np.nonzero(newd < best_d[bad])[0]:
            k = int(bad[t])
            chars[k] = lut_chars[int(newg[t])]
            best_d[k] = newd[t]
    # ---- K4 beam top-k + dictionary re-decode (RecodeBeamSearch,
    # /root/reference/src/lstm/recodebeam.cpp:87 Decode keeps kBeamWidths
    # top states per timestep and scores dictionary continuations through
    # the word Dawgs, dict/dawg.h): greedy argmin stands unless a word
    # decoded IMPERFECTLY and is not a dictionary word — then a width-8
    # beam over each cell's top-k candidates (those within BEAM_CELL_MARGIN
    # of the cell's best) searches for the cheapest dictionary word, which
    # is accepted only within DICT_MARGIN of the greedy cost. That margin
    # is the analog of the reference's dict_ratio/cert_offset gate: a
    # dictionary word must be nearly as good as the free path, never a
    # forced fit — so garbage stays garbage and non-lexicon scripts/numbers
    # are untouched. The lexicon itself is the Dawg seam
    # (fixtures/lexicon.py): the wordlist ships with the "language pack"
    # exactly like the glyph LUT ships with the model (C11). ----
    if best_d.any():
        for wi in range(ns.shape[0]):
            a, z = int(cum[wi]), int(cum[wi + 1])
            if z - a < 2 or z - a > 12:
                continue
            greedy_cost = int(best_d[a:z].sum())
            if greedy_cost == 0 or "".join(chars[a:z]) in LEXICON:
                continue
            cand: list[list[tuple[int, str]]] = []
            for k in range(a, z):
                dv = dists[k]
                base = min(int(dv.min()), int(best_d[k]))
                opts = {chars[k]: int(best_d[k])}
                for j in np.nonzero(dv <= base + BEAM_CELL_MARGIN)[0]:
                    ch, dj = lut_chars[int(j)], int(dv[j])
                    if dj < opts.get(ch, 1 << 30):
                        opts[ch] = dj
                cand.append(sorted(
                    (d_, ch) for ch, d_ in opts.items())[:BEAM_TOPK])
            beam: list[tuple[int, str]] = [(0, "")]
            for opts in cand:
                beam = [(sc + d_, p + ch) for sc, p in beam
                        for d_, ch in opts]
                beam.sort()
                del beam[BEAM_WIDTH:]
            hit = min(((sc, p) for sc, p in beam if p in LEXICON),
                      default=None)
            if hit is not None and hit[0] <= greedy_cost + DICT_MARGIN:
                for off, ch in enumerate(hit[1]):
                    k = a + off
                    if chars[k] != ch:
                        best_d[k] = next(d_ for d_, c2 in cand[off]
                                         if c2 == ch)
                        chars[k] = ch
    # Arabic positional-form normalization: the LUT decodes the joined
    # (initial/medial) presentation form a shaped word was RENDERED with;
    # text output carries the base letter — the same unichar
    # normalization the reference applies before anything downstream
    # consumes the string. One chokepoint: every later stage (word
    # direction, bidi reorder, script vote, renderers) sees base letters.
    chars = [ARABIC_NORM.get(c, c) for c in chars]
    words = ["".join(chars[cum[w] : cum[w + 1]]) for w in range(ns.shape[0])]
    # per-word geometry + confidence (the WERD-level output the reference's
    # TSV/hOCR renderers consume, GetTSVText baseapi.cpp:2205): word bbox
    # spans its first group's left to its last group's right; vertical
    # extent from the groups' own edges when available, else the row band.
    # conf = 100 * (1 - hamming/bits), the template-decode analog of
    # WERD_RES certainty (ratngs.h:270).
    # Each word also carries its per-SYMBOL records (the RIL_SYMBOL level of
    # GetBoxText, baseapi.cpp:2391): symbol i is the word text's i-th char,
    # boxed at its own decode cell — the cell the glyph was matched in
    # (nominal grid position starts/y0s, width/height one glyph cell), with
    # its own per-char confidence from the cell's hamming distance.
    recs: list[tuple] = []
    cell_w, cell_h = GLYPH_W * s, GLYPH_H * s
    # one reduceat per word-level stat instead of a tiny-slice reduction
    # per word, and plain-python lists for the per-symbol loop — numpy
    # scalar indexing + int() per symbol was the kernel's hottest path
    # (identical arithmetic: reduceat segments are [w_first[i], w_first[i+1])
    # = groups a..z, and [cum[i], cum[i+1]) = the word's cells)
    wl_l = gl[w_first].tolist()
    wr_l = gr[w_last].tolist()
    wt_l = (np.minimum.reduceat(gt, w_first).tolist() if gt is not None
            else [int(max(row_top, 0))] * ns.shape[0])
    wb_l = (np.maximum.reduceat(gb, w_first).tolist() if gb is not None
            else [int(row_bottom)] * ns.shape[0])
    dw_l = np.add.reduceat(best_d, cum[:-1]).tolist()
    cum_l = cum.tolist()
    ns_l = ns.tolist()
    starts_l = starts.tolist()
    y0s_l = y0s.tolist()
    bd_l = best_d.tolist()
    cell_bits = float(GLYPH_H * GLYPH_W)
    for wi in range(ns.shape[0]):
        conf = int(round(100.0 * (1.0 - dw_l[wi] / (cell_bits * ns_l[wi]))))
        syms = tuple(
            (chars[k], starts_l[k], y0s_l[k],
             starts_l[k] + cell_w - 1, y0s_l[k] + cell_h - 1,
             int(round(100.0 * (1.0 - bd_l[k] / cell_bits))))
            for k in range(cum_l[wi], cum_l[wi + 1]))
        recs.append((words[wi], wl_l[wi], wt_l[wi], wr_l[wi], wb_l[wi],
                     conf, syms))
    # ---- C15 fuzzy-space fix (fix_fuzzy_spaces,
    # /root/reference/src/ccmain/fixspace.cpp:79 evaluates both the
    # space and no-space interpretation of a FUZZY gap and keeps the one
    # the dictionary rates better). Two directions:
    #   merge — adjacent words separated by a gap barely ABOVE the word
    #     break (in (WORD_GAP, FUZZY_MERGE]*s — a real space is ~7s) whose
    #     concatenation is a dictionary word while the parts are not both
    #     words themselves: join the records (no re-decode needed — each
    #     part decoded on its own grid).
    #   split — a non-dictionary word that decoded IMPERFECTLY and holds an
    #     in-word gap barely BELOW the break ([FUZZY_SPLIT_MIN,
    #     WORD_GAP]*s — nominal intra-letter gap is ~1s): a missed space
    #     leaves the second half off the pitch grid, so both halves are
    #     RE-DECODED on their own grids and accepted only if each comes
    #     back a clean dictionary word at lower total cost.
    # Both gates need the lexicon to agree, so garbage, numbers, and
    # non-Latin scripts pass through untouched (their decode is perfect or
    # their text can't hit the lexicon).
    total_d, total_n = int(best_d.sum()), n
    ranges = [(int(w_first[wi]), int(w_last[wi])) for wi in range(ns.shape[0])]
    d_words = [int(best_d[cum[wi]: cum[wi + 1]].sum())
               for wi in range(ns.shape[0])]
    n_words = [int(ns[wi]) for wi in range(ns.shape[0])]
    i = 0
    while i + 1 < len(recs):
        gap = int(gl[ranges[i + 1][0]] - gr[ranges[i][1]] - 1)
        w1, w2 = recs[i][0], recs[i + 1][0]
        if (WORD_GAP_UNITS * s < gap <= FUZZY_MERGE_UNITS * s
                and (w1 + w2) in LEXICON
                and not (w1 in LEXICON and w2 in LEXICON)):
            r1, r2 = recs[i], recs[i + 1]
            d_m = d_words[i] + d_words[i + 1]
            n_m = n_words[i] + n_words[i + 1]
            conf = int(round(100.0 * (
                1.0 - d_m / (GLYPH_H * GLYPH_W * float(n_m)))))
            recs[i] = (w1 + w2, r1[1], min(r1[2], r2[2]), r2[3],
                       max(r1[4], r2[4]), conf, r1[6] + r2[6])
            ranges[i] = (ranges[i][0], ranges[i + 1][1])
            d_words[i], n_words[i] = d_m, n_m
            del recs[i + 1], ranges[i + 1], d_words[i + 1], n_words[i + 1]
            continue  # a 3-way fuzzy chain merges pairwise
        i += 1
    fixed: list[tuple] = []
    for wi, wrec in enumerate(recs):
        a_g, z_g = ranges[wi]
        if z_g > a_g and d_words[wi] > 0 and wrec[0] not in LEXICON:
            in_gaps = gl[a_g + 1: z_g + 1] - gr[a_g: z_g] - 1
            cand = [(int(g_), k) for k, g_ in enumerate(in_gaps)
                    if FUZZY_SPLIT_MIN_UNITS * s <= int(g_)
                    <= WORD_GAP_UNITS * s]
            if cand:
                _, k = max(cand)  # widest fuzzy gap hosts the lost space
                m = a_g + k
                halves, d_new, n_new = [], 0, 0
                for lo, hi in ((a_g, m), (m + 1, z_g)):
                    _t, d_, n_, r_ = _decode_row(
                        ink, row_top, row_bottom,
                        gl[lo: hi + 1], gr[lo: hi + 1], s, rec, False,
                        gt[lo: hi + 1] if gt is not None else None,
                        gb[lo: hi + 1] if gb is not None else None)
                    if len(r_) != 1 or r_[0][0] not in LEXICON:
                        halves = []
                        break
                    halves.append(r_[0])
                    d_new += d_
                    n_new += n_
                if halves and d_new < d_words[wi]:
                    total_d += d_new - d_words[wi]
                    total_n += n_new - n_words[wi]
                    fixed.extend(halves)
                    continue
        fixed.append(wrec)
    recs = fixed
    # ---- C13 Thai word segmentation: Thai writes NO spaces between
    # words (spaces separate phrases), so a phrase decodes as one long
    # "word" and boundaries exist only in the dictionary — the reference
    # segments Thai through its language pack's word Dawgs
    # (dict/dawg.h:385) during recognition. Greedy longest-match against
    # THAI_LEXICON splits the record; sub-word geometry re-derives from
    # the per-symbol decode cells, confidence from their per-char scores.
    # A run the dictionary can't fully segment stays WHOLE — never invent
    # a boundary the lexicon can't certify.
    if any(len(r[0]) > 1 and all(c in STRONG_THAI for c in r[0])
           for r in recs):
        segmented: list[tuple] = []
        for r in recs:
            if not (len(r[0]) > 1 and all(c in STRONG_THAI for c in r[0])):
                segmented.append(r)
                continue
            cuts = _thai_segment(r[0])
            if cuts is None or len(cuts) == 1:
                segmented.append(r)
                continue
            for a, z in cuts:
                syms = r[6][a:z]
                conf = int(round(sum(s2[5] for s2 in syms) / len(syms)))
                segmented.append((r[0][a:z],
                                  min(s2[1] for s2 in syms),
                                  min(s2[2] for s2 in syms),
                                  max(s2[3] for s2 in syms),
                                  max(s2[4] for s2 in syms),
                                  conf, syms))
        recs = segmented
    if rtl and len(recs) > 1:
        # W4 bidi textline order (resultiterator.cpp:285
        # CalculateTextlineOrder): the decode above walks glyphs in
        # POSITIONAL (left-to-right) order; an RTL paragraph reads its words
        # from the right, with embedded LTR minor runs kept left-to-right.
        # Word records follow the same logical permutation.
        dirs = [_word_direction(r[0]) for r in recs]
        recs = [recs[i] for i in textline_order(False, dirs) if i >= 0]
    return " ".join(r[0] for r in recs), total_d, total_n, recs


VERT_MIN_CHARS = 3      # stacked single glyphs to call vertical text (C1/W)
VERT_FLOW_MAX = 50000   # core-blob count above which good-neighbour flow is
                        # skipped outright. Within it, the horizontal-anchor
                        # prefilter reduces the pairwise pass to kept x n
                        # (typically <5% x n), and the function bails if
                        # kept*n would exceed 8M cells (~400 MB of matrices
                        # per task is the real bound, not n itself). Pages
                        # beyond either bound fall back to the block-shape
                        # vertical rule (the reference bounds the same
                        # search with its BBGrid, strokewidth.cpp:872)

STROKE_SOLID_FRAC = 0.4  # median ink run >= this frac of min side → solid (C1)
STROKE_MIN_FILL = 0.4    # don't bother below this bbox fill

# K4 beam + dictionary re-decode (recodebeam.cpp:33 kBeamWidths is likewise
# a small fixed ladder). CELL_MARGIN bounds which per-cell alternatives may
# enter the beam; DICT_MARGIN bounds how much worse a dictionary word may
# score and still win (the dict_ratio/cert_offset analog).
BEAM_CELL_MARGIN = 3
BEAM_TOPK = 4
BEAM_WIDTH = 8
DICT_MARGIN = 4

# C15 fuzzy-space fix (fixspace.cpp:79 fix_fuzzy_spaces). A nominal word
# space is ~7s of ink gap and a nominal intra-letter gap ~1s; gaps between
# those bands are "fuzzy" — the segmentation threshold (WORD_GAP_UNITS=3)
# may have called them wrong, and the dictionary arbitrates.
FUZZY_MERGE_UNITS = 5      # word gap in (WORD_GAP, 5]*s: candidates to join
FUZZY_SPLIT_MIN_UNITS = 2  # in-word gap in [2, WORD_GAP]*s: candidates to
                           # split (below 2s is normal letter spacing)


def _flow_vertical_chains(tl: np.ndarray, tt: np.ndarray, tr: np.ndarray,
                          tb: np.ndarray,
                          min_chain: int = VERT_MIN_CHARS) -> list[np.ndarray]:
    """J2 good-neighbour flow (FindGoodNeighbour + textline flow direction,
    strokewidth.cpp:872-892): for each blob, the distance to its nearest
    size-compatible ALIGNED neighbour horizontally (y-overlap >= half the
    smaller height) vs vertically (x-overlap >= half the smaller width).
    A blob whose best vertical neighbour is strictly closer than any
    horizontal one flows vertically; maximal vertical-linked groups of
    >= min_chain such blobs are vertical-text chains, returned as index
    arrays sorted top-to-bottom.

    This is what recovers vertical text EMBEDDED beside flowing lines
    (embedded_vertical family): the stack's glyphs share rows with the
    flowing text, so the post-row block-shape rule never sees them as a
    narrow block — but each stack glyph's nearest neighbour is the glyph
    above/below it, not the line text several word-gaps away. In flowing
    text the intra-word letter gap (~1 scale unit) always beats the
    inter-row gap, so normal glyphs flow horizontally; isolated single-char
    words chain only with non-flow neighbours and never reach min_chain."""
    n = tl.shape[0]
    if n < min_chain:
        return []
    w = tr - tl + 1
    h = tb - tt + 1
    # ---- exact horizontal-anchor prefilter: a blob whose nearest same-line
    # neighbour sits closer than half its height is horizontal flow by
    # typography (line pitch >= glyph height, so no vertical neighbour can
    # be nearer). >95% of a text page's glyphs are anchored this way; the
    # expensive pairwise pass then runs kept x n — with EXACT distances for
    # the survivors — instead of n x n.
    med_h = max(1.0, float(fast_median(h)))
    band = (tt / med_h).astype(np.int64)
    order = np.lexsort((tl, band))
    ob, otl, otr = band[order], tl[order], tr[order]
    ott, otb, oh = tt[order], tb[order], h[order]
    i_, j_ = np.arange(n - 1), np.arange(1, n)
    mh_ = np.minimum(oh[i_], oh[j_])
    oy_ = np.minimum(otb[i_], otb[j_]) - np.maximum(ott[i_], ott[j_]) + 1
    gap_ = otl[j_] - otr[i_] - 1
    close = ((ob[i_] == ob[j_])
             & (np.maximum(oh[i_], oh[j_]) <= 2.5 * mh_)
             & (oy_ >= 0.5 * mh_) & (gap_ >= 0) & (gap_ < 0.5 * mh_))
    anchored = np.zeros(n, dtype=bool)
    anchored[order[:-1][close]] = True
    anchored[order[1:][close]] = True
    K = np.nonzero(~anchored)[0]
    if K.shape[0] < min_chain or K.shape[0] * n > 8_000_000:
        return []
    hh = np.minimum(h[K, None], h[None, :])
    compat = np.maximum(h[K, None], h[None, :]) <= 2.5 * hh
    compat[np.arange(K.shape[0]), K] = False
    oy = np.minimum(tb[K, None], tb[None, :]) - np.maximum(tt[K, None], tt[None, :]) + 1
    ox = np.minimum(tr[K, None], tr[None, :]) - np.maximum(tl[K, None], tl[None, :]) + 1
    gx = np.maximum(tl[None, :] - tr[K, None], tl[K, None] - tr[None, :]) - 1
    gy = np.maximum(tt[None, :] - tb[K, None], tt[K, None] - tb[None, :]) - 1
    horiz_ok = compat & (oy >= 0.5 * hh) & (gx >= 0)
    vert_ok = compat & (ox >= 0.5 * np.minimum(w[K, None], w[None, :])) & (gy >= 0)
    inf = np.iinfo(np.int64).max
    dh = np.where(horiz_ok, gx, inf).min(axis=1)
    dv = np.where(vert_ok, gy, inf).min(axis=1)
    # DOMINANCE, not a bare win: the vertical neighbour must be at most half
    # the horizontal distance (or there must be none). A bare dv < dh calls
    # every vertically-aligned column of single-char words — list numbers,
    # a right-margin character column — vertical text, because line pitch
    # minus glyph height (~0.7h) always beats a word gap (~h). True vertical
    # text is ISOLATED sideways; a factor-2 bar encodes that.
    vflow = (dv < inf) & ((dh == inf) | (dh >= 2 * dv))
    rows_v = np.nonzero(vflow)[0]
    ids = K[rows_v]
    if ids.shape[0] < min_chain:
        return []
    # link vflow blobs through their actual vertical neighbours (gap within
    # 1.5x either end's own nearest distance), then take components
    sub_v = vert_ok[np.ix_(rows_v, ids)]
    sub_g = gy[np.ix_(rows_v, ids)]
    lim = 1.5 * np.minimum(dv[rows_v][:, None], dv[rows_v][None, :])
    adj = sub_v & (sub_g <= lim)
    m = ids.shape[0]
    seen = np.zeros(m, dtype=bool)
    chains: list[np.ndarray] = []
    for s0 in range(m):
        if seen[s0]:
            continue
        stack = [s0]
        seen[s0] = True
        comp = []
        while stack:
            k = stack.pop()
            comp.append(k)
            nxt = np.nonzero(adj[k] & ~seen)[0]
            seen[nxt] = True
            stack.extend(nxt.tolist())
        if len(comp) < min_chain:
            continue
        members = ids[np.array(comp)]
        # a genuine vertical chain is one glyph wide
        if (tr[members].max() - tl[members].min() + 1) > 1.5 * float(fast_median(w[members])):
            continue
        chains.append(members[np.argsort(tt[members], kind="stable")])
    return chains


def _median_run(sub: np.ndarray) -> float:
    """Median horizontal ink-run length of a boolean patch — the stroke-width
    estimate (C1, strokewidth.cpp:344 grades blobs by stroke coherence; for
    our purpose the discriminating fact is run length relative to blob size:
    glyph strokes are ~scale px, solid shapes run their whole width)."""
    padded = np.zeros((sub.shape[0], sub.shape[1] + 2), dtype=np.int8)
    padded[:, 1:-1] = sub
    d = np.diff(padded, axis=1)
    starts = np.nonzero(d == 1)[1]
    ends = np.nonzero(d == -1)[1]
    if starts.shape[0] == 0:
        return 0.0
    # row-major order aligns each start with its end (runs never cross rows)
    return float(fast_median(ends - starts))

MATH_CHARS = set("=+-0123456789")
EQ_MATH_RATIO = 0.4     # math-symbol density for an equation block (C9)


def _is_equation(text: str) -> bool:
    """Content rule for display equations (C9, equationdetect.cpp:132: seed
    regions are picked by special-symbol density, then grown). A text block
    whose glyphs are '='-anchored and math-dense is an equation block."""
    flat = text.replace("\n", "").replace(" ", "")
    if not flat or "=" not in flat:
        return False
    return sum(c in MATH_CHARS for c in flat) / len(flat) >= EQ_MATH_RATIO


LEADER_MIN_DOTS = 5     # run length for a dot leader (C2)
LEADER_MAX_PITCH = 12   # px between consecutive leader dots
LEADER_PITCH_TOL = 2    # px deviation from the median pitch allowed


def _drop_leader_dots(member_ids: list[int], tl, tt, tr, tb) -> list[int]:
    """Remove dot-leader runs from a row's blob membership (C2,
    strokewidth.cpp:260 FindLeaderPartitions): >= LEADER_MIN_DOTS micro
    blobs at a regular horizontal pitch are a leader, not glyphs, and the
    reference keeps them out of the text flow. Irregular micro fragments
    (deskew debris) don't qualify and stay attached."""
    if len(member_ids) < LEADER_MIN_DOTS:
        return member_ids
    ids = np.array(member_ids)
    micro = ((tb[ids] - tt[ids] + 1 <= MICRO_MAX_SIDE)
             & (tr[ids] - tl[ids] + 1 <= MICRO_MAX_SIDE))
    if int(micro.sum()) < LEADER_MIN_DOTS:
        return member_ids
    mids = ids[micro]
    order = np.argsort(tl[mids])
    mids = mids[order]
    lefts = tl[mids]
    gaps = np.diff(lefts)
    drop: set[int] = set()
    run_start = 0
    for k in range(gaps.shape[0] + 1):
        end_of_run = (k == gaps.shape[0]) or (gaps[k] > LEADER_MAX_PITCH)
        if end_of_run:
            run = mids[run_start : k + 1]
            if run.shape[0] >= LEADER_MIN_DOTS:
                pitch = np.diff(tl[run])
                if np.abs(pitch - fast_median(pitch)).max() <= LEADER_PITCH_TOL:
                    drop.update(int(i) for i in run)
            run_start = k + 1
    if not drop:
        return member_ids
    return [i for i in member_ids if i not in drop]


STAFF_MIN_LINES = 4     # horizontal rules forming a music staff (5-line
STAFF_PITCH_TOL = 2     # px deviation from the group's pitch allowed
STAFF_PITCH_MAX_TH = 6  # pitch <= this x line thickness → staff-tight; real
                        # separator rules sit block_gap (30s) apart and
                        # never qualify


def _find_staffs(line_boxes: list[tuple]) -> tuple[list[tuple], list[tuple]]:
    """Music-staff mask (pagesegmain.cpp:253 `photomask_pix |=
    musicmask_pix`): >= STAFF_MIN_LINES horizontal rules at a tight regular
    pitch with overlapping x-extents are a staff — ONE image region, not a
    stack of separators. Returns (staff boxes, remaining line boxes)."""
    hl = [i for i, lx in enumerate(line_boxes) if lx[4] == HORZ_LINE]
    if len(hl) < STAFF_MIN_LINES:
        return [], line_boxes
    hl.sort(key=lambda i: line_boxes[i][1])
    groups: list[list[int]] = []
    cur = [hl[0]]
    cur_pitch: int | None = None
    for j in hl[1:]:
        a, b = line_boxes[cur[-1]], line_boxes[j]
        pitch = b[1] - a[1]
        th = max(a[3] - a[1] + 1, b[3] - b[1] + 1)
        x_ov = min(a[2], b[2]) - max(a[0], b[0]) + 1
        wmin = min(a[2] - a[0], b[2] - b[0]) + 1
        tight = (pitch <= STAFF_PITCH_MAX_TH * th and x_ov >= 0.8 * wmin
                 and (cur_pitch is None
                      or abs(pitch - cur_pitch) <= STAFF_PITCH_TOL))
        if tight:
            if cur_pitch is None:
                cur_pitch = pitch
            cur.append(j)
        else:
            groups.append(cur)
            cur, cur_pitch = [j], None
    groups.append(cur)
    staffs: list[tuple] = []
    drop: set[int] = set()
    for g in groups:
        if len(g) < STAFF_MIN_LINES:
            continue
        bs = [line_boxes[i] for i in g]
        staffs.append((min(b[0] for b in bs), min(b[1] for b in bs),
                       max(b[2] for b in bs), max(b[3] for b in bs)))
        drop.update(g)
    if not drop:
        return [], line_boxes
    return staffs, [lx for i, lx in enumerate(line_boxes) if i not in drop]


def _coverage_gaps(left: np.ndarray, right: np.ndarray, min_gap: int) -> list[tuple[int, int]]:
    """Maximal whitespace gaps >= min_gap strictly inside the x-extent of the
    given intervals (the tab-stop/gutter finder, tabfind.cpp:833)."""
    order = np.argsort(left)
    l, r = left[order], right[order]
    gaps = []
    run_end = int(r[0])
    for i in range(1, l.shape[0]):
        if int(l[i]) > run_end + 1:
            if int(l[i]) - run_end - 1 >= min_gap:
                gaps.append((run_end + 1, int(l[i]) - 1))
        run_end = max(run_end, int(r[i]))
    return gaps


def _tab_partner_gutters(rows: list[dict], body_s: int) -> list[tuple[int, int]]:
    """J4 tab partner join (tabfind.cpp:833 FindTabVectors + partner pairing,
    tabvector.cpp): a LEFT TAB VECTOR is >= TAB_MIN_ROWS decode-group left
    edges, aligned within one scale unit across distinct rows, each with
    >= TAB_CLEAR_UNITS*s of whitespace immediately to its left. The vector
    only becomes a column gutter when (a) the clearance band holds for EVERY
    row its vertical extent spans (the reference's clear-gutter requirement)
    and (b) a PARTNER right ink edge exists left of the band — a tab at the
    page's own left margin has no partner and is not a gutter.

    This recovers gutters the pure x-coverage profile misses: one long line
    intruding into the gutter erases the full-height coverage gap, but the
    aligned left edges of the next column survive (ragged_page family).
    Whitespace is measured on the COVERAGE geometry (cov_l/cov_r, leader
    dots included) so dot leaders never read as clearance.

    The clearance requirement is RELATIVE as well as absolute: a gutter must
    be wider than ~1.4x the page's own median inter-word gap, or
    letter-spaced text (word gaps (7+2t)*s at tracking t) sprouts a phantom
    tab wherever three word starts happen to align on the pitch grid — the
    reference makes the same word-space-vs-gutter distinction between
    tospace.cpp gap statistics and tabfind's gutter test."""
    gap_samples: list[int] = []
    for r in rows:
        gl, gr = r["gl"], r["gr"]
        for i in range(gl.shape[0] - 1):
            g = int(gl[i + 1]) - int(gr[i]) - 1
            # WORD gaps only: letter-spaced text splits into per-char decode
            # groups whose intra-word gaps would drag the median down to the
            # letter gap and defeat the word-space-vs-gutter test
            if WORD_GAP_UNITS * r["s"] < g < GUTTER_UNITS * body_s:
                gap_samples.append(g)
    med_gap = float(fast_median(gap_samples)) if gap_samples else 0.0
    clear = max(TAB_CLEAR_UNITS * body_s, int(np.ceil(1.4 * med_gap)))
    cands: list[tuple[int, int]] = []  # (x, row_index)
    for ri, r in enumerate(rows):
        gl = r["gl"]
        # max cov_r strictly left of each edge = predecessor in sort order —
        # O(g log g) instead of a per-edge scan (dense pages have hundreds
        # of groups per row; this runs inside the hot page kernel)
        cs = np.sort(r["cov_r"])
        idx = np.searchsorted(cs, gl, side="left")
        has_left = idx > 0
        pred = cs[np.maximum(idx - 1, 0)]
        ok = has_left & (gl - 1 - pred >= clear)
        cands.extend((int(x), ri) for x in gl[ok])
    cands.sort()
    gutters: list[tuple[int, int]] = []
    i = 0
    while i < len(cands):
        j = i
        xs: list[int] = []
        rids: set[int] = set()
        while j < len(cands) and cands[j][0] - cands[i][0] <= body_s:
            xs.append(cands[j][0])
            rids.add(cands[j][1])
            j += 1
        i = j
        if len(rids) < TAB_MIN_ROWS:
            continue
        xt = int(fast_median(xs))
        y0 = min(rows[ri]["top"] for ri in rids)
        y1 = max(rows[ri]["bottom"] for ri in rids)
        span = [r for r in rows if r["bottom"] >= y0 and r["top"] <= y1]
        partner = None
        ok = True
        for r in span:
            cl, cr = r["cov_l"], r["cov_r"]
            if ((cl <= xt - 1) & (cr >= xt - clear)).any():
                ok = False  # ink inside the gutter band → not a clear tab
                break
            lefts = cr[cr < xt - clear]
            if lefts.size:
                p = int(lefts.max())
                partner = p if partner is None else max(partner, p)
        if ok and partner is not None:
            gutters.append((partner + 1, xt - 1))
    return gutters


def _xy_cut(boxes: list[tuple[int, int, int, int]], idx: list[int],
            vertical_first: bool = True, rtl: bool = False) -> list[int]:
    """Recursive XY-cut, vertical cuts first → Tesseract's column-major
    reading order (W2). boxes are (l, t, r, b); returns idx in reading order.
    rtl reverses the left-right order of vertical-cut groups — the reference
    achieves the same by reflecting the y-axis for RTL scripts before the
    column walk (colfind.cpp:347-354, :1591; Hebrew case layout_test.cc:
    215-236): columns read right→left, still top→bottom within a column."""
    if len(idx) <= 1:
        return list(idx)

    def try_cut(axis: int) -> list[list[int]] | None:
        lo = np.array([boxes[i][axis] for i in idx])
        hi = np.array([boxes[i][axis + 2] for i in idx])
        order = np.argsort(lo)
        groups: list[list[int]] = []
        cur: list[int] = []
        run_end = -(1 << 60)
        for oi in order:
            i = idx[oi]
            if cur and lo[oi] > run_end:  # strict whitespace between groups
                groups.append(cur)
                cur = []
            cur.append(i)
            run_end = max(run_end, int(hi[oi]))
        groups.append(cur)
        return groups if len(groups) > 1 else None

    axes = (0, 1) if vertical_first else (1, 0)
    for axis in axes:
        groups = try_cut(axis)
        if groups:
            if rtl and axis == 0:
                groups = groups[::-1]
            out: list[int] = []
            for g in groups:
                out.extend(_xy_cut(boxes, g, vertical_first, rtl))
            return out
    # no cut possible: top-down, then left-right (right-left for RTL)
    return sorted(idx, key=lambda i: (boxes[i][1],
                                      -boxes[i][0] if rtl else boxes[i][0]))


SKEW_APPLY_MIN_DEG = 0.15  # measured skew below this → page already straight
BOW_APPLY_MIN_PX = 3.0     # measured baseline bow below this → straight


def _voting_centroids(blobs: Blobs):
    """(cx, cy, med_h) of the text-sized blobs that get a vote in geometry
    estimation (skew/bow), or None when too few. Images/rules would swamp the
    projection profile and micro dots (leaders, halftone) would collapse the
    bin size, so only glyph-sized blobs vote."""
    solid = blobs.area > NOISE_AREA
    if solid.sum() < 3:
        return None
    cx = (blobs.left[solid] + blobs.right[solid]) / 2.0
    cy = (blobs.top[solid] + blobs.bottom[solid]) / 2.0
    hh = blobs.bottom[solid] - blobs.top[solid] + 1
    ww = blobs.right[solid] - blobs.left[solid] + 1
    glyphish = hh > MICRO_MAX_SIDE
    med = fast_median(hh[glyphish]) if glyphish.any() else fast_median(hh)
    small = (hh <= 4 * med) & glyphish & (ww <= 8 * med)
    if small.sum() < 3:
        small = hh <= 4 * fast_median(hh)
    return cx[small], cy[small], float(fast_median(hh[small]))


def _split_shiro_rekha(ink: np.ndarray, tl: np.ndarray, tt: np.ndarray,
                       tr: np.ndarray, tb: np.ndarray
                       ) -> tuple[np.ndarray, np.ndarray,
                                  np.ndarray, np.ndarray]:
    """F9 Devanagari shiro-rekha splitter (reference
    /root/reference/src/textord/devanagari_processing.cpp:231
    SplitWordShiroRekha): a Devanagari word is ONE connected component —
    the headline (shiro rekha) runs through every letter and the padding
    between them — so CC boxes arrive word-fused, breaking the per-glyph
    row/pitch/decode machinery downstream. Per fused candidate:

    * the headline is the global maximum of the horizontal count histogram
      (GetShiroRekhaYExtents devanagari_processing.cpp:337); descending the
      peak to half-height gives its stroke extent, and a real headline
      spans (>=95% of) the full CC width, sits in the TOP half, and is no
      thicker than height/3 — the reference's own safeguards, which also
      reject rule lines (stroke == height) and solid shapes;
    * clearing the headline band (top - stroke/3, thickness 5*stroke/3 —
      the reference's box_to_clear) and thresholding the remaining vertical
      projection at stroke/4 (its noise filter) leaves one column-run per
      letter body; runs separated by gaps >= stroke/2 become separate
      blobs (we take the MAXIMAL_SPLIT strategy — per-letter boxes — since
      the template recognizer consumes isolated glyph cells; MINIMAL_SPLIT
      only nicks the headline for pageseg spacing, which box-based rows
      don't need).

    Auto-detected rather than config-gated (the reference gates on the
    loaded language's init_config): the headline signature cannot occur in
    the other script families, whose inter-glyph padding is blank — a
    single glyph is never 2x wider than tall, and anything wide AND
    headline-topped that is not fused text (rules, solid boxes) fails the
    stroke/position safeguards. Returns the blob arrays with fused words
    replaced by their per-letter boxes."""
    w = tr - tl + 1
    h = tb - tt + 1
    cand = np.nonzero((w >= 2 * h) & (h >= 4))[0]
    if cand.shape[0] == 0:
        return tl, tt, tr, tb
    keep = np.ones(tl.shape[0], dtype=bool)
    add: list[tuple[int, int, int, int]] = []
    for i in cand:
        wi, hi = int(w[i]), int(h[i])
        sub = ink[tt[i] : tb[i] + 1, tl[i] : tr[i] + 1]
        rowc = sub.sum(axis=1)
        ylevel = int(np.argmax(rowc))
        peak = int(rowc[ylevel])
        if peak < int(np.ceil(0.95 * wi)):
            continue  # headline must span the whole fused word
        top = ylevel
        while top > 0 and rowc[top - 1] >= (peak + 1) // 2:
            top -= 1
        bot = ylevel
        while bot < hi - 1 and rowc[bot + 1] >= (peak + 1) // 2:
            bot += 1
        stroke = bot - top + 1
        # safeguards (devanagari_processing.cpp:249-262): stroke no
        # thicker than a third of the word height, and positioned like a
        # real connector — either in the TOP half (Devanagari shiro
        # rekha) or flush with the BOTTOM edge (the Arabic cursive
        # baseline: joined letters write ON a connected bottom stroke,
        # the same word-fusion mechanism mirrored vertically; the
        # reference routes Arabic through its own unicharset machinery,
        # resultiterator.cpp:285, but the un-fuse-before-pitch problem is
        # identical). A mid-height stroke is neither and stays rejected.
        is_headline = ylevel <= hi // 2
        is_baseline = bot == hi - 1
        if (not is_headline and not is_baseline) or stroke > hi // 3:
            continue
        y0 = max(top - stroke // 3, 0)
        body = sub.copy()
        body[y0 : min(y0 + (5 * stroke) // 3, hi), :] = False
        colc = body.sum(axis=0)
        on = colc > stroke // 4  # noise-column filter (cpp:292-299)
        min_run = max(1, stroke // 2)
        segs: list[list[int]] = []
        c = 0
        while c < wi:
            if on[c]:
                c2 = c
                while c2 + 1 < wi and on[c2 + 1]:
                    c2 += 1
                # a gap narrower than stroke/2 does not split (cpp:303)
                if segs and c - segs[-1][1] - 1 < min_run:
                    segs[-1][1] = c2
                else:
                    segs.append([c, c2])
                c = c2 + 1
            else:
                c += 1
        if len(segs) < 2:
            continue  # nothing to split (single letter under a long matra)
        keep[i] = False
        for c0, c1 in segs:
            cols = sub[:, c0 : c1 + 1]
            rows_ink = np.nonzero(cols.any(axis=1))[0]
            add.append((int(tl[i]) + c0, int(tt[i]) + int(rows_ink[0]),
                        int(tl[i]) + c1, int(tt[i]) + int(rows_ink[-1])))
    if not add:
        return tl, tt, tr, tb
    al = np.array([a[0] for a in add], dtype=np.int64)
    at = np.array([a[1] for a in add], dtype=np.int64)
    ar = np.array([a[2] for a in add], dtype=np.int64)
    ab = np.array([a[3] for a in add], dtype=np.int64)
    return (np.concatenate([tl[keep], al]), np.concatenate([tt[keep], at]),
            np.concatenate([tr[keep], ar]), np.concatenate([tb[keep], ab]))


def _analyse_ink(ink: np.ndarray, skew_bin_div: float = 4.0,
                 rtl: bool = False, psm: str = "auto",
                 rec=None,
                 ) -> tuple[list[Block], float]:
    """Analyse one binarized page; returns (blocks in reading order,
    mean per-char decode distance — the page's recognition quality).
    skew_bin_div sets the projection-profile bin granularity (median blob
    height / div); the retry loop tries an alternate granularity when the
    default mis-estimates on sparse pages.

    psm gates stages exactly like the reference's PageSegMode inequalities
    (publictypes.h:192-213, used textord.cpp:224-231): 'single_column' skips
    column/table finding but keeps block/heading structure; 'single_block'
    also skips block splitting (one uniform text block); 'single_line'
    additionally skips row clustering (all glyphs one row)."""
    blobs: Blobs = label_blobs(ink)
    if len(blobs) == 0:
        return [], 0.0

    # ---- deskew (C6): estimate page rotation from blob centroids, rotate
    # the bitmap upright, re-extract components (tabfind.cpp:1291 /
    # makerow.cpp:316 play this role in the reference)
    # (A4, baselinedetect.cpp:878,909: baselines carry linear AND quadratic
    # terms — fit jointly, then straighten with integer column shifts.
    # A second pass refines the residual ONLY when a first correction was
    # applied, so straight pages never pick up spurious ±1px shifts.)
    vote = _voting_centroids(blobs)
    warped_before = False
    for it in range(4):
        if vote is None:
            break
        # quadratic-only refinement converges in two passes (the original
        # loop bound); only a latched wavy page earns the extra iterations —
        # without this cap, ±1px bow-estimate noise keeps straight pages
        # looping and re-labeling to no effect
        if it >= 2 and not warped_before:
            break
        cx, cy, med_h = vote
        bin_px = med_h / skew_bin_div
        deg, bow = estimate_skew_bow(cx, cy, bin_px=bin_px,
                                     page_w=ink.shape[1])
        apply_skew = abs(deg) >= SKEW_APPLY_MIN_DEG
        apply_bow = abs(bow) >= (BOW_APPLY_MIN_PX if it == 0 else 1.0)
        # ---- spline residual (A4 v2): multi-bow / wavy pages exceed the
        # one-quadratic model — the reference's QSPLINE fallback
        # (baselinedetect.cpp:909, quspline.cpp). The two candidate
        # corrections COMPETE on the Postl sharpness of the centroids they
        # would produce: on a sine-warped page the quadratic fit is
        # untrustworthy (its row clustering is smeared), and applying it
        # blind can shear the page beyond recovery.
        warp = estimate_warp(ink)
        # once a warp has been applied the page is known wavy: residuals
        # down to 3 px are still worth flattening (straight pages never
        # reach this branch, so they can't pick up spurious small shifts)
        warp_gate = 3.0 if warped_before else 4.0
        warp_sig = (warp is not None
                    and float(warp.max() - warp.min()) >= warp_gate)
        if warp_sig:
            half = max(ink.shape[1] / 2.0, 1.0)
            uc = ((cx - ink.shape[1] / 2.0) / half) ** 2
            y_quad = (cy
                      - (np.tan(np.deg2rad(deg)) * cx if apply_skew else 0.0)
                      - (bow * uc if apply_bow else 0.0))
            y_warp = cy - warp[np.clip(cx.astype(np.int64), 0,
                                       ink.shape[1] - 1)]
            if profile_sharpness(y_warp, bin_px) <= \
                    profile_sharpness(y_quad, bin_px):
                warp_sig = False
        if warp_sig:
            ink = shift_columns(ink, -np.rint(warp), False)
            warped_before = True
        elif apply_skew or apply_bow:
            if apply_skew:
                # undo via vertical shear (integer column shifts — no second
                # resampling pass over glyph interiors)
                ink = shear_y(ink, np.tan(np.deg2rad(deg)), False)
            if apply_bow:
                # the correction is integer column shifts, so pick the
                # INTEGER bow around the fit that sharpest-flattens the
                # actual ink-row profile — a fractional residual would leave
                # irregular ±1px shifts inside glyphs that no sampling
                # offset can undo
                half = max(ink.shape[1] / 2.0, 1.0)
                u = ((np.arange(ink.shape[1]) - ink.shape[1] / 2.0) / half) ** 2
                best = None
                for bb in np.unique(np.rint([bow - 1.0, bow, bow + 1.0])):
                    cand = shift_columns(ink, -np.rint(bb * u), False)
                    prof = cand.sum(axis=1).astype(np.float64)
                    sharp = float((prof * prof).sum())
                    if best is None or sharp > best[0]:
                        best = (sharp, cand)
                ink = best[1]
        else:
            break
        blobs = label_blobs(ink)
        if len(blobs) == 0:
            return [], 0.0
        vote = _voting_centroids(blobs)

    keep = blobs.area > NOISE_AREA
    if not keep.any():
        return [], 0.0
    left = blobs.left[keep].astype(np.int64)
    top = blobs.top[keep].astype(np.int64)
    right = blobs.right[keep].astype(np.int64)
    bottom = blobs.bottom[keep].astype(np.int64)
    area = blobs.area[keep]
    w = right - left + 1
    h = bottom - top + 1

    fill = area / (w * h)
    is_img = (fill >= IMAGE_FILL) & (h >= IMAGE_MIN_SIDE) & (w >= IMAGE_MIN_SIDE)
    # separator rules (F5): long thin solid components, checked before the
    # photo test would miss them (thickness < IMAGE_MIN_SIDE)
    is_hline = (fill >= IMAGE_FILL) & (w >= LINE_ASPECT * h) & (w >= LINE_MIN_LEN)
    is_vline = (fill >= IMAGE_FILL) & (h >= LINE_ASPECT * w) & (h >= LINE_MIN_LEN)
    is_img &= ~(is_hline | is_vline)

    # ---- stroke-width grading (C1, strokewidth.cpp:344): large blobs whose
    # median ink run approaches their size are solid shapes (discs, logos) —
    # photos even though their bbox fill misses the rectangle threshold.
    # Text glyphs keep runs ~ stroke width << glyph size. ----
    big = (~is_img & ~is_hline & ~is_vline
           & (h >= IMAGE_MIN_SIDE) & (w >= IMAGE_MIN_SIDE)
           & (fill >= STROKE_MIN_FILL) & (fill < IMAGE_FILL))
    for i in np.nonzero(big)[0]:
        sub = ink[top[i]:bottom[i] + 1, left[i]:right[i] + 1]
        if _median_run(sub) >= STROKE_SOLID_FRAC * min(int(h[i]), int(w[i])):
            is_img[i] = True

    image_boxes = [
        (int(left[i]), int(top[i]), int(right[i]), int(bottom[i]))
        for i in np.nonzero(is_img)[0]
    ]
    line_boxes = [
        (int(left[i]), int(top[i]), int(right[i]), int(bottom[i]),
         HORZ_LINE if is_hline[i] else VERT_LINE)
        for i in np.nonzero(is_hline | is_vline)[0]
    ]

    non_text = is_img | is_hline | is_vline
    tl, tt, tr, tb = left[~non_text], top[~non_text], right[~non_text], bottom[~non_text]

    # ---- F9 shiro-rekha split: un-fuse Devanagari word CCs into per-letter
    # blobs BEFORE any row/pitch/flow pass consumes the boxes (the reference
    # runs its splitter ahead of pageseg for the same reason,
    # devanagari_processing.cpp:83 Split) ----
    tl, tt, tr, tb = _split_shiro_rekha(ink, tl, tt, tr, tb)

    # ---- non-text density mask (F7, ccnontextdetect.cpp:88): halftone /
    # textured photo regions are swarms of micro components no glyph grid
    # produces — grid-count them, grow connected dense cells into photo
    # boxes, and pull their blobs out of the text flow ----
    micro = (tb - tt + 1 <= MICRO_MAX_SIDE) & (tr - tl + 1 <= MICRO_MAX_SIDE)
    if int(micro.sum()) >= DENSITY_MIN_BLOBS:
        g = DENSITY_CELL_PX
        mcx = ((tl[micro] + tr[micro]) // 2) // g
        mcy = ((tt[micro] + tb[micro]) // 2) // g
        grid = np.zeros((int(ink.shape[0]) // g + 1, int(ink.shape[1]) // g + 1),
                        dtype=np.int64)
        np.add.at(grid, (mcy, mcx), 1)
        regions = label_blobs(grid >= DENSITY_CELL_MIN)
        keep_mask = np.ones(tl.shape[0], dtype=bool)
        for ri in range(len(regions)):
            if ((regions.right[ri] - regions.left[ri] + 1) * g < IMAGE_MIN_SIDE
                    or (regions.bottom[ri] - regions.top[ri] + 1) * g < IMAGE_MIN_SIDE):
                continue
            rl, rt = int(regions.left[ri]) * g, int(regions.top[ri]) * g
            rr = (int(regions.right[ri]) + 1) * g - 1
            rb = (int(regions.bottom[ri]) + 1) * g - 1
            ctr_x = (tl + tr) / 2.0
            ctr_y = (tt + tb) / 2.0
            inside = ((ctr_x >= rl - 2) & (ctr_x <= rr + 2)
                      & (ctr_y >= rt - 2) & (ctr_y <= rb + 2))
            if not inside.any():
                continue
            image_boxes.append((int(tl[inside].min()), int(tt[inside].min()),
                                int(tr[inside].max()), int(tb[inside].max())))
            keep_mask &= ~inside
        if not keep_mask.all():
            tl, tt, tr, tb = tl[keep_mask], tt[keep_mask], tr[keep_mask], tb[keep_mask]

    # ---- C4 textline-projection analog (textlineprojection.cpp:67,364):
    # SPARSE halftones whose dot pitch exceeds the dense grid's count
    # threshold leave no >=3-per-cell cells, so the pass above never fires
    # and the dots would silently drop as noise. The reference smears ink
    # at line-size scale and reads occupancy; our analog re-grids the
    # remaining micro blobs at a cell size ADAPTED to their estimated pitch
    # (sqrt(extent-area / n), so same-pitch dots always land in adjacent
    # cells regardless of grid phase) and takes connected occupied cells.
    # Guards against page-scatter noise masquerading as texture: a region
    # must hold >= DENSITY_MIN_BLOBS dots, span IMAGE_MIN_SIDE both ways,
    # and contain NO glyph-sized blob center (texture is not interleaved
    # with text; percolating noise chains over a text page are). ----
    micro2 = (tb - tt + 1 <= MICRO_MAX_SIDE) & (tr - tl + 1 <= MICRO_MAX_SIDE)
    if int(micro2.sum()) >= DENSITY_MIN_BLOBS:
        mx = ((tl[micro2] + tr[micro2]) / 2.0)
        my = ((tt[micro2] + tb[micro2]) / 2.0)
        ext = max(1.0, (mx.max() - mx.min() + 1) * (my.max() - my.min() + 1))
        pitch = np.sqrt(ext / float(micro2.sum()))
        g2 = int(np.clip(np.ceil(pitch) + 2, DENSITY_CELL_PX // 2,
                         DENSITY_CELL_PX))
        occ = np.zeros((int(ink.shape[0]) // g2 + 1,
                        int(ink.shape[1]) // g2 + 1), dtype=bool)
        occ[(my / g2).astype(np.int64), (mx / g2).astype(np.int64)] = True
        regions = label_blobs(occ)
        keep_mask = np.ones(tl.shape[0], dtype=bool)
        ctr_x = (tl + tr) / 2.0
        ctr_y = (tt + tb) / 2.0
        for ri in range(len(regions)):
            rl, rt = int(regions.left[ri]) * g2, int(regions.top[ri]) * g2
            rr = (int(regions.right[ri]) + 1) * g2 - 1
            rb = (int(regions.bottom[ri]) + 1) * g2 - 1
            inside = ((ctr_x >= rl - 2) & (ctr_x <= rr + 2)
                      & (ctr_y >= rt - 2) & (ctr_y <= rb + 2))
            m_in = inside & micro2
            if int(m_in.sum()) < DENSITY_MIN_BLOBS or (inside & ~micro2).any():
                continue
            bl_, bt_ = int(tl[m_in].min()), int(tt[m_in].min())
            br_, bb_ = int(tr[m_in].max()), int(tb[m_in].max())
            if br_ - bl_ + 1 < IMAGE_MIN_SIDE or bb_ - bt_ + 1 < IMAGE_MIN_SIDE:
                continue
            image_boxes.append((bl_, bt_, br_, bb_))
            keep_mask &= ~inside
        if not keep_mask.all():
            tl, tt, tr, tb = tl[keep_mask], tt[keep_mask], tr[keep_mask], tb[keep_mask]

    # ---- music-staff mask (pagesegmain.cpp:253): tightly pitched rule
    # groups become ONE image region, and the note blobs between the lines
    # leave the text flow with them ----
    staff_boxes, line_boxes = _find_staffs(line_boxes)
    if staff_boxes:
        image_boxes.extend(staff_boxes)
        keep_mask = np.ones(tl.shape[0], dtype=bool)
        ctr_x = (tl + tr) / 2.0
        ctr_y = (tt + tb) / 2.0
        for (sl, st, sr, sb) in staff_boxes:
            keep_mask &= ~((ctr_x >= sl - 2) & (ctr_x <= sr + 2)
                           & (ctr_y >= st - 2) & (ctr_y <= sb + 2))
        if not keep_mask.all():
            tl, tt, tr, tb = tl[keep_mask], tt[keep_mask], tr[keep_mask], tb[keep_mask]

    # one sparse halftone can be claimed piecewise (the dense pass fires on
    # a high-count sub-patch, the projection pass on the rest) — overlapping
    # photo boxes are one photo
    merged = True
    while merged:
        merged = False
        for i in range(len(image_boxes)):
            for j in range(i + 1, len(image_boxes)):
                a, b = image_boxes[i], image_boxes[j]
                if (a[0] <= b[2] + 2 and b[0] <= a[2] + 2
                        and a[1] <= b[3] + 2 and b[1] <= a[3] + 2):
                    image_boxes[i] = (min(a[0], b[0]), min(a[1], b[1]),
                                      max(a[2], b[2]), max(a[3], b[3]))
                    del image_boxes[j]
                    merged = True
                    break
            if merged:
                break

    # ---- J2 good-neighbour flow: pull vertical-text chains out BEFORE row
    # building, or their glyphs merge into the horizontal rows they sit
    # beside and corrupt the line decode (strokewidth.cpp:872 runs its flow
    # pass before makerow for the same reason) ----
    vert_chains: list[dict] = []
    if psm == "auto" and VERT_MIN_CHARS <= tl.shape[0] <= VERT_FLOW_MAX:
        # flow only over CORE-sized blobs: sub-glyph fragments (broken-char
        # slivers, diacritics) have no size-compatible horizontal anchor and
        # would chain into phantom vertical text; they belong to the row
        # repair/attachment passes instead
        hh0 = tb - tt + 1
        gsz = hh0 > MICRO_MAX_SIDE
        med0 = float(fast_median(hh0[gsz])) if gsz.any() else float(fast_median(hh0))
        core0 = np.nonzero(hh0 >= 0.75 * med0)[0]
        chains = [core0[ch] for ch in _flow_vertical_chains(
            tl[core0], tt[core0], tr[core0], tb[core0])]
        if chains:
            drop = np.zeros(tl.shape[0], dtype=bool)
            for ch in chains:
                drop[ch] = True
                vert_chains.append(dict(
                    box=(int(tl[ch].min()), int(tt[ch].min()),
                         int(tr[ch].max()), int(tb[ch].max())),
                    glyphs=[(int(tl[k]), int(tt[k]), int(tr[k]), int(tb[k]))
                            for k in ch]))
            tl, tt, tr, tb = tl[~drop], tt[~drop], tr[~drop], tb[~drop]

    # ---- rows: size-grade blobs (F4, tordmain.cpp:232), cluster CORE blobs
    # by top (J3), then attach small fragments to the row containing their
    # center (J6 diacritic attachment); unattached fragments drop as noise ----
    rows: list[dict] = []
    if psm == "single_line" and tl.shape[0] > 0:
        # PSM_SINGLE_TEXT_LINE (publictypes.h:173): the whole page is one
        # text line — no clustering, every glyph joins the single row
        r_top, r_bot = int(tt.min()), int(tb.max())
        hh_sl = tb - tt + 1
        big = hh_sl > MICRO_MAX_SIDE
        est_h = float(fast_median(hh_sl[big])) if big.any() \
            else float(r_bot - r_top + 1)
        s = max(1, int(round(est_h / GLYPH_H)))
        gl, gt, gr, gb = _merge_x_overlaps(tl, tt, tr, tb, max(0, s - 1))
        gl, gt, gr, gb = _merge_pitch_cells(gl, gt, gr, gb, s)
        rows.append(dict(top=r_top, bottom=r_bot, left=int(gl.min()),
                         right=int(gr.max()), s=s, gl=gl, gr=gr, gt=gt, gb=gb,
                         cov_l=gl, cov_r=gr))
    elif tl.shape[0] > 0:
        hh_all = tb - tt + 1
        # the size median must come from glyph-sized blobs: a page where
        # leader dots outnumber glyphs would otherwise flip the median to
        # dot height and promote every dot to a row-forming core blob
        glyph_sized = hh_all > MICRO_MAX_SIDE
        med_h = float(fast_median(hh_all[glyph_sized])) if glyph_sized.any() \
            else float(fast_median(hh_all))
        core = hh_all >= 0.75 * med_h
        if not core.any():
            core = np.ones(tl.shape[0], dtype=bool)
        co = np.nonzero(core)[0][np.argsort(tt[core], kind="stable")]
        ct, cb = tt[co], tb[co]
        hh = cb - ct + 1
        tol = np.maximum(2, (hh * 0.3).astype(np.int64))
        new_row = np.ones(ct.shape[0], dtype=bool)
        new_row[1:] = ct[1:] > ct[:-1] + tol[1:]
        rid = np.cumsum(new_row) - 1
        n_rows = int(rid[-1]) + 1
        row_tops = np.full(n_rows, np.iinfo(np.int64).max)
        row_bots = np.zeros(n_rows, dtype=np.int64)
        np.minimum.at(row_tops, rid, ct)
        np.maximum.at(row_bots, rid, cb)
        members: list[list[int]] = [[] for _ in range(n_rows)]
        for k in range(co.shape[0]):
            members[int(rid[k])].append(int(co[k]))
        for gi in np.nonzero(~core)[0]:
            cy = (int(tt[gi]) + int(tb[gi])) / 2.0
            hit = np.nonzero((row_tops - 2 <= cy) & (cy <= row_bots + 2))[0]
            if hit.shape[0]:
                members[int(hit[0])].append(int(gi))
        for r in range(n_rows):
            all_ids = members[r]
            txt_ids = _drop_leader_dots(all_ids, tl, tt, tr, tb)
            if not txt_ids:
                continue  # leader-only row: nothing to read
            mi = np.array(txt_ids)
            r_top, r_bot = int(row_tops[r]), int(row_bots[r])
            # row scale from the median GLYPH height, not the row extent:
            # residual warp (wavy pages) inflates the top-to-bottom extent
            # by the across-row drift, which at the margin rounds s up one
            # and breaks the whole pitch grid. Every conformed glyph spans
            # exactly 7s, so the member-height median IS the scale (A2
            # line-size-from-height-mode, tordmain.cpp:287).
            mh = tb[mi] - tt[mi] + 1
            mh = mh[mh >= 0.75 * med_h]
            if mh.shape[0]:
                s = max(1, int(round(float(fast_median(mh)) / GLYPH_H)))
            else:
                s = max(1, int(round((r_bot - r_top + 1) / GLYPH_H)))
            # fragments closer than one scale unit rejoin (C3 repair); the
            # nominal inter-char ink gap is exactly s px, so s-1 is safe
            repair = max(0, s - 1)
            gl, gt, gr, gb = _merge_x_overlaps(tl[mi], tt[mi], tr[mi], tb[mi],
                                               repair)
            gl, gt, gr, gb = _merge_pitch_cells(gl, gt, gr, gb, s)
            if len(txt_ids) != len(all_ids):
                # leader dots stay in the COVERAGE geometry (they bridge the
                # big gap, so it never reads as a column gutter) but are
                # excluded from decode groups
                ai = np.array(all_ids)
                cov_l, _ct, cov_r, _cb = _merge_x_overlaps(
                    tl[ai], tt[ai], tr[ai], tb[ai], repair)
            else:
                cov_l, cov_r = gl, gr
            rows.append(dict(top=r_top, bottom=r_bot, left=int(gl.min()),
                             right=int(gr.max()), s=s, gl=gl, gr=gr, gt=gt,
                             gb=gb, cov_l=cov_l, cov_r=cov_r))

    body_s = int(fast_median([r["s"] for r in rows])) if rows else 1
    structured = psm in ("auto", "single_column")  # PSM_SINGLE_COLUMN keeps
    # block/heading structure, drops column segmentation (publictypes.h:175)
    for r in rows:
        r["heading"] = structured and r["s"] >= HEADING_RATIO * body_s

    # ---- table rows (C8, tablefind.cpp:200): a row with >= TABLE_MIN_GAPS
    # wide internal gaps has 3+ aligned cells — one gap is a column gutter,
    # two or more is table structure. Consecutive such rows with overlapping
    # first-gap intervals form one table block.
    for r in rows:
        gaps = []
        gl, gr = r["gl"], r["gr"]
        for i in range(gl.shape[0] - 1):
            g = int(gl[i + 1]) - int(gr[i]) - 1
            if g > TABLE_GAP_UNITS * r["s"]:
                gaps.append((int(gr[i]) + 1, int(gl[i + 1]) - 1))
        r["tgaps"] = gaps
        r["tably"] = (psm == "auto" and not r["heading"]
                      and len(gaps) >= TABLE_MIN_GAPS)

    table_blocks: list[dict] = []
    rest: list[dict] = []
    run: list[dict] = []

    def _flush_run() -> None:
        if len(run) >= 2:
            table_blocks.append(dict(rows=list(run), kind=TABLE))
        else:
            rest.extend(run)
        run.clear()

    for r in rows:
        if r["tably"]:
            if run:
                pg, cg = run[-1]["tgaps"][0], r["tgaps"][0]
                if min(pg[1], cg[1]) < max(pg[0], cg[0]):  # gaps don't align
                    _flush_run()
            run.append(r)
        else:
            _flush_run()
            rest.append(r)
    _flush_run()
    # ---- spanned header/footer rows (C8 v3, tablerecog.cpp:62
    # StructuredTable merged cells): a row adjacent to a table at normal
    # block pitch, x-contained in the table, whose wide gaps all align
    # with the table's column gaps but number FEWER (at least one expected
    # gap is suppressed — a cell spanning several columns) is a table row
    # with merged cells, not flowing text. The body-row grid stays the
    # authority; the absorbed row's own gaps define its visible cells.
    if table_blocks:
        absorbed: set[int] = set()
        for tb in table_blocks:
            trows = tb["rows"]
            grid = max((rr["tgaps"] for rr in trows), key=len)
            t_l = min(rr["left"] for rr in trows)
            t_r = max(rr["right"] for rr in trows)
            t_top = min(rr["top"] for rr in trows)
            t_bot = max(rr["bottom"] for rr in trows)
            for idx, r in enumerate(rest):
                if idx in absorbed or r["heading"] or not r["tgaps"] \
                        or len(r["tgaps"]) >= len(grid):
                    continue
                s_ = r["s"]
                above = 0 <= t_top - r["bottom"] - 1 <= BLOCK_GAP_UNITS * s_
                below = 0 <= r["top"] - t_bot - 1 <= BLOCK_GAP_UNITS * s_
                if not (above or below):
                    continue
                if r["left"] < t_l - 2 * s_ or r["right"] > t_r + 2 * s_:
                    continue
                if all(any(min(g[1], gg[1]) >= max(g[0], gg[0])
                           for gg in grid) for g in r["tgaps"]):
                    absorbed.add(idx)
                    trows.append(r)
        if absorbed:
            rest = [r for i, r in enumerate(rest) if i not in absorbed]
            for tb in table_blocks:
                tb["rows"].sort(key=lambda rr: rr["top"])
    rows = rest

    # ---- columns from body-row blob x-projection (C5/W1) ----
    col_ranges: list[tuple[int, int]] = []
    body_rows = [r for r in rows if not r["heading"]]
    if body_rows and psm == "auto":
        bl = np.concatenate([r["cov_l"] for r in body_rows])
        br = np.concatenate([r["cov_r"] for r in body_rows])
        gaps = _coverage_gaps(bl, br, GUTTER_UNITS * body_s)
        # J4: tab-vector gutters recover column boundaries the coverage
        # profile misses (an intruding long line bridges the full-height
        # gap); a tab gutter that overlaps a coverage gap is the same
        # boundary already found — only novel ones are added
        for tg in _tab_partner_gutters(body_rows, body_s):
            if all(min(tg[1], g[1]) < max(tg[0], g[0]) for g in gaps):
                gaps.append(tg)
        gaps.sort()
        x_lo, x_hi = int(bl.min()), int(br.max())
        cuts = [x_lo - 1] + [g[0] - 1 for g in gaps] + [x_hi + 1]
        starts = [x_lo] + [g[1] + 1 for g in gaps]
        col_ranges = [(starts[i], cuts[i + 1]) for i in range(len(starts))]

    # ---- split body rows at column boundaries (ColPartition per column,
    # colpartition.h:73: a partition never crosses a column gutter) ----
    col_starts = np.array([c[0] for c in col_ranges]) if col_ranges else np.array([0])

    def split_row(r: dict) -> list[tuple[object, dict]]:
        if r["heading"] or len(col_ranges) <= 1:
            hits = [ci for ci, (x0, x1) in enumerate(col_ranges)
                    if r["right"] >= x0 and r["left"] <= x1]
            key = hits[0] if len(hits) == 1 else "fw"
            return [(key, r)]
        centers = (r["gl"] + r["gr"]) / 2
        cid = np.searchsorted(col_starts, centers, side="right") - 1
        out = []
        for c in np.unique(cid):
            sel = cid == c
            gl, gr = r["gl"][sel], r["gr"][sel]
            out.append((int(c), dict(top=r["top"], bottom=r["bottom"],
                                     left=int(gl.min()), right=int(gr.max()),
                                     s=r["s"], heading=False, gl=gl, gr=gr,
                                     gt=r["gt"][sel], gb=r["gb"][sel])))
        return out

    # ---- blocks: stack rows per column, split on class change / big gap (W2) ----
    blocks: list[dict] = []
    groups: dict[object, list[dict]] = {}
    for r in rows:
        for key, sub in split_row(r):
            groups.setdefault(key, []).append(sub)
    # rows per column: a "column" carried by a single row is not column
    # structure — its text is a pull-out (margin note / callout),
    # PT_PULLOUT_TEXT (C7, SetPartitionTypes colpartitionset.cpp: partitions
    # that don't fit the column set type as pullout)
    col_row_counts = {k: len(v) for k, v in groups.items() if isinstance(k, int)}
    for key, rws in groups.items():
        rws.sort(key=lambda r: r["top"])
        cur: list[dict] = []
        for r in rws:
            if structured and cur and (
                r["heading"] != cur[-1]["heading"]
                or r["top"] - cur[-1]["bottom"] - 1 > BLOCK_GAP_UNITS * cur[-1]["s"]
            ):
                blocks.append(dict(rows=cur, col_key=key))
                cur = []
            cur.append(r)
        if cur:
            blocks.append(dict(rows=cur, col_key=key))

    blocks.extend(table_blocks)
    for b in blocks:
        rws = b["rows"]
        b["box"] = (min(r["left"] for r in rws), min(r["top"] for r in rws),
                    max(r["right"] for r in rws), max(r["bottom"] for r in rws))
        b["image"] = False
        b["line_kind"] = None
        b["heading"] = rws[0]["heading"]
    for vc in vert_chains:
        blocks.append(dict(rows=None, box=vc["box"], image=False,
                           line_kind=None, heading=False,
                           vglyphs=vc["glyphs"]))
    for ib in image_boxes:
        blocks.append(dict(rows=None, box=ib, image=True, line_kind=None,
                           heading=False))
    for lx in line_boxes:
        blocks.append(dict(rows=None, box=lx[:4], image=False,
                           line_kind=lx[4], heading=False))

    # ---- reading order: vertical-first XY-cut (W2; RTL reverses column
    # order, colfind.cpp:347-354) ----
    boxes = [b["box"] for b in blocks]
    order = _xy_cut(boxes, list(range(len(blocks))), rtl=rtl)

    # ---- kind typing (C7) + caption attachment (J8) ----
    page_w_ink = (max(bx[2] for bx in boxes) - min(bx[0] for bx in boxes) + 1) if boxes else 1
    out: list[Block] = []
    q_dist = 0
    q_chars = 0

    def decode_rows(b) -> tuple[list[str], list[list[tuple]]]:
        nonlocal q_dist, q_chars
        lines: list[str] = []
        rws: list[list[tuple]] = []
        for rr in b["rows"]:
            text, d, n, recs = _decode_row(ink, rr["top"], rr["bottom"],
                                           rr["gl"], rr["gr"], rr["s"], rec,
                                           rtl=rtl, gt=rr.get("gt"),
                                           gb=rr.get("gb"))
            lines.append(text)
            rws.append(recs)
            q_dist += d
            q_chars += n
        return lines, rws

    def decode_block(b, sep: str = "\n") -> str:
        return sep.join(decode_rows(b)[0])

    def decode_table(b) -> tuple[str, list[tuple]]:
        """C8 v2/v3 cell structure (the reference recognizes table structure
        in tablerecog.cpp after detection in tablefind.cpp:268): each table
        row's decode is split at its aligned whitespace gaps (`tgaps`, the
        same gaps that detected the table) into per-cell text — cells
        TAB-separated within a row, rows newline-separated.

        Returns (text, cells) where cells carries the STRUCTURED view
        (StructuredTable, tablerecog.cpp:62): the table's column grid is
        the most-gapped row's gap set; each visible cell is assigned the
        grid column containing its ink start (cells are left-aligned into
        their column segments) and SPANS up to the next visible cell's
        column — so a merged header cell over two body columns comes out
        once with col_span 2."""
        nonlocal q_dist, q_chars
        grid = max((rr.get("tgaps") or [] for rr in b["rows"]), key=len)
        grid_ends = [g[1] for g in grid]
        n_cols = len(grid) + 1
        lines = []
        cells_out: list[tuple] = []
        for ri, rr in enumerate(b["rows"]):
            gaps = rr.get("tgaps") or []
            gap_rights = np.array([g[1] for g in gaps], dtype=np.int64)
            cid = np.searchsorted(gap_rights, rr["gl"])
            cells = []
            start_cols: list[int | None] = []
            for c in range(len(gaps) + 1):
                sel = cid == c
                if not sel.any():
                    cells.append("")
                    start_cols.append(None)
                    continue
                gt_r = rr.get("gt")
                text, d, n, _recs = _decode_row(
                    ink, rr["top"], rr["bottom"],
                    rr["gl"][sel], rr["gr"][sel], rr["s"], rec, rtl=rtl,
                    gt=None if gt_r is None else gt_r[sel])
                cells.append(text)
                cl = int(rr["gl"][sel].min())
                start_cols.append(sum(1 for e in grid_ends if e < cl))
                q_dist += d
                q_chars += n
            for k, ctext in enumerate(cells):
                a = start_cols[k] if start_cols[k] is not None else k
                nxt = next((sc for sc in start_cols[k + 1:]
                            if sc is not None), n_cols)
                cells_out.append((ri, k, a, max(1, nxt - a), ctext))
            lines.append("\t".join(cells))
        return "\n".join(lines), cells_out

    for rank, i in enumerate(order):
        b = blocks[i]
        l, t, r_, bo = b["box"]
        if b["image"]:
            kind = FLOWING_IMAGE if (r_ - l + 1) / page_w_ink > 0.7 else PULLOUT_IMAGE
            out.append(Block(rank, kind, None, l, t, r_, bo))
            continue
        if b["line_kind"] is not None:
            out.append(Block(rank, b["line_kind"], None, l, t, r_, bo))
            continue
        if b.get("vglyphs") is not None:
            # flow-extracted vertical chain (J2): decode each glyph at its
            # own cell, top-to-bottom, no separators — same contract as the
            # block-shape vertical path below
            parts = []
            for gl_, gt_, gr_, gb_ in b["vglyphs"]:
                vs = max(1, int(round((gb_ - gt_ + 1) / GLYPH_H)))
                txt, d, nch, _recs = _decode_row(ink, gt_, gb_,
                                                 np.array([gl_]),
                                                 np.array([gr_]),
                                                 vs, rec, rtl=rtl)
                parts.append(txt)
                q_dist += d
                q_chars += nch
            out.append(Block(rank, VERTICAL_TEXT, "".join(parts), l, t, r_, bo))
            continue
        if b.get("kind") == TABLE:
            t_text, t_cells = decode_table(b)
            out.append(Block(rank, TABLE, t_text, l, t, r_, bo,
                             cells=t_cells))
            continue
        # vertical text (strokewidth.cpp:211 IsVerticallyAlignedText →
        # PT_VERTICAL_TEXT): a stack of single glyphs one char-cell wide,
        # read top-to-bottom with no line breaks
        if (psm == "auto" and not b["heading"] and len(b["rows"]) >= VERT_MIN_CHARS
                and all(rr["gl"].shape[0] == 1 for rr in b["rows"])
                and (r_ - l + 1) <= 6 * b["rows"][0]["s"]):
            out.append(Block(rank, VERTICAL_TEXT, decode_block(b, ""),
                             l, t, r_, bo))
            continue
        if b["heading"]:
            h_lines, h_words = decode_rows(b)
            out.append(Block(rank, HEADING_TEXT, "\n".join(h_lines),
                             l, t, r_, bo,
                             words=_attach_words(b["rows"], h_lines, h_words)))
            continue
        # pull-out text (C7): a single-row "column" in a multi-column layout
        # is a margin note / callout, not column structure
        if (psm == "auto" and len(col_ranges) > 1
                and isinstance(b.get("col_key"), int)
                and col_row_counts.get(b["col_key"], 0) == 1):
            p_lines, p_words = decode_rows(b)
            out.append(Block(rank, PULLOUT_TEXT, "\n".join(p_lines),
                             l, t, r_, bo,
                             words=_attach_words(b["rows"], p_lines, p_words)))
            continue
        lines_txt, words_rows = decode_rows(b)
        txt = "\n".join(lines_txt)
        if psm == "auto" and _is_equation(txt):
            out.append(Block(rank, EQUATION, txt, l, t, r_, bo,
                             words=_attach_words(b["rows"], lines_txt,
                                                 words_rows)))
            continue
        # inline equations (C9 second half, equationdetect.cpp:351: seeds
        # GROW inside flowing text): an equation row embedded at normal line
        # pitch inside a paragraph splits it into flowing / inline_equation
        # / flowing sub-blocks, kept consecutive at the parent's position in
        # reading order (PT_INLINE_EQUATION, publictypes.h:60)
        eqrow = [psm == "auto" and _is_equation(ln) for ln in lines_txt]
        if any(eqrow) and len(lines_txt) > 1:
            rows_b = b["rows"]
            i0 = 0
            for k in range(1, len(lines_txt) + 1):
                if k < len(lines_txt) and eqrow[k] == eqrow[i0]:
                    continue
                seg = rows_b[i0:k]
                out.append(Block(
                    rank,
                    INLINE_EQUATION if eqrow[i0] else FLOWING_TEXT,
                    "\n".join(lines_txt[i0:k]),
                    min(r2["left"] for r2 in seg),
                    min(r2["top"] for r2 in seg),
                    max(r2["right"] for r2 in seg),
                    max(r2["bottom"] for r2 in seg),
                    words=_attach_words(seg, lines_txt[i0:k],
                                        words_rows[i0:k])))
                i0 = k
            continue
        kind = FLOWING_TEXT
        for ib in image_boxes:
            x_overlap = min(r_, ib[2]) >= max(l, ib[0])
            dy = t - ib[3]
            if x_overlap and 0 <= dy <= CAPTION_GAP_UNITS * b["rows"][0]["s"]:
                kind = CAPTION_TEXT
                break
        out.append(Block(rank, kind, txt, l, t, r_, bo,
                         words=_attach_words(b["rows"], lines_txt,
                                             words_rows)))
    # sub-block splits above may have emitted several blocks for one rank —
    # renumber densely, preserving emission (reading) order
    for i, blk in enumerate(out):
        blk.order = i
    return out, (q_dist / q_chars if q_chars else 0.0)


def _attach_words(rows_seg: list[dict], lines_txt: list[str],
                  row_words: list[list[tuple]]) -> list[tuple] | None:
    """Build one text block's flat word table with paragraph structure —
    W6 wired into the recognition pass exactly where the reference runs
    DetectParagraphs inside Recognize (baseapi.cpp:1417 → paragraphs.cpp:2588).

    Row geometry → RowInfo in monospace cells (the detector's native unit,
    paragraphs_test.cc:49 AsciiToRowInfo maps 1 char = 1 cell): lindent from
    the row's left edge vs the block's left margin, rindent vs the block's
    right margin, both divided by the row's own char pitch. detect_paragraphs
    then assigns para ids; output rows are
    (para_num, line_num, word_num, text, l, t, r, b, conf, syms, lmeta) with
    para_num densely renumbered per block, line_num within para, word_num
    within line (the GetTSVText numbering contract, baseapi.cpp:2205).

    lmeta = (x_size, base_slope, base_off) is the per-LINE typography the
    hOCR/ALTO renderers emit on ocr_line/TextLine (hocrrenderer.cpp:163
    writes `baseline p1 p0; x_size s` from the row's fitted baseline):
    x_size = median glyph-cell height in the row (A5's row size stat);
    base_slope = least-squares slope of glyph bottoms vs glyph centers
    (3dp, the reference's own rounding — ~0 on deskewed rows, nonzero
    residual on bowed/wavy rows); base_off = the fitted baseline y at the
    line's LEFT edge minus the line bbox BOTTOM (the hOCR convention:
    constant term relative to the bottom-left corner, ≤ 0 when nothing in
    the row descends below the fitted baseline). Identical for every word
    of a line, so the renderers aggregate with first()."""
    from .paragraphs import RowInfo, detect_paragraphs

    if not rows_seg or not any(row_words):
        return None
    bl = min(r["left"] for r in rows_seg)
    br = max(r["right"] for r in rows_seg)
    infos = []
    for r, txt in zip(rows_seg, lines_txt):
        cell = max(1, CELL_W * r["s"])
        lind = int(round((r["left"] - bl) / cell))
        rind = int(round((br - r["right"]) / cell))
        ws = txt.split()
        infos.append(RowInfo(text=" " * lind + txt + " " * rind,
                             lindent=lind, rindent=rind,
                             lword=ws[0] if ws else "",
                             rword=ws[-1] if ws else "",
                             num_words=len(ws)))
    ras = detect_paragraphs(infos)
    out: list[tuple] = []
    pid_map: dict[int, int] = {}
    line_in_para: dict[int, int] = {}
    for i, ra in enumerate(ras):
        p = pid_map.setdefault(ra.para_id, len(pid_map))
        ln = line_in_para.get(p, 0)
        line_in_para[p] = ln + 1
        lmeta = _line_metrics(rows_seg[i], row_words[i])
        for wnum, (wt, l, t, rgt, b, conf, syms) in enumerate(row_words[i]):
            out.append((p, ln, wnum, wt, l, t, rgt, b, conf, syms, lmeta))
    return out


def _line_metrics(row: dict, words: list[tuple]) -> tuple[int, float, int]:
    """(x_size, base_slope, base_off) for one recognized row — see
    _attach_words. The fit runs over the row's merged glyph cells (the
    same boxes the decode grid used); degenerate rows (one cell, zero x
    spread) fall back to slope 0 with the median bottom as baseline."""
    if not words:
        return (0, 0.0, 0)
    gl, gr = row["gl"], row["gr"]
    gt, gb = row["gt"], row["gb"]
    x_size = int(fast_median((gb - gt + 1).astype(np.float64)))
    line_left = min(w[1] for w in words)
    line_bottom = max(w[4] for w in words)
    cx = (gl + gr) / 2.0
    if cx.shape[0] >= 2 and float(cx.max() - cx.min()) > 0:
        mx, my = float(cx.mean()), float(gb.mean())
        dx = cx - mx
        slope = float((dx * (gb - my)).sum() / (dx * dx).sum())
        base_y = my + slope * (line_left - mx)
    else:
        slope = 0.0
        base_y = float(fast_median(gb.astype(np.float64)))
    return (x_size, round(slope, 3), int(round(base_y)) - line_bottom)


OSD_RETRY_DIST = 2.0  # mean bits/char above this → try the other 3 rotations


def _script_tally(blocks: list[Block]) -> dict[str, int]:
    """Per-script strong-glyph counts over the page's decoded text."""
    from ..fixtures.font import (STRONG_ARABIC, STRONG_CJK,
                                 STRONG_CYRILLIC, STRONG_DEVANAGARI,
                                 STRONG_GREEK, STRONG_HANGUL)

    scripts = (("latin", STRONG_LTR - STRONG_GREEK - STRONG_CYRILLIC
                - STRONG_DEVANAGARI - STRONG_CJK - STRONG_HANGUL
                - STRONG_THAI),
               ("greek", STRONG_GREEK),
               ("cyrillic", STRONG_CYRILLIC),
               ("devanagari", STRONG_DEVANAGARI),
               ("cjk", STRONG_CJK),
               ("hangul", STRONG_HANGUL),
               ("thai", STRONG_THAI),
               ("arabic", STRONG_ARABIC),
               ("hebrew", STRONG_RTL - STRONG_ARABIC))
    tally = dict.fromkeys((n for n, _ in scripts), 0)
    for b in blocks:
        if b.text:
            for c in b.text:
                for name, glyphs in scripts:
                    if c in glyphs:
                        tally[name] += 1
                        break
    return tally


def _page_script(blocks: list[Block]) -> str:
    """Script half of OSD (osdetect.cpp:286 os_detect_blobs scores every
    script, not just rotations): per-script strong-glyph tally over the
    page's decoded text, argmax wins. Deterministic tie-break: a later
    script needs STRICTLY more hits than latin (the reference's vote is
    likewise a max over per-script scores)."""
    tally = _script_tally(blocks)
    best, best_n = "latin", tally["latin"]
    for name in ("greek", "cyrillic", "devanagari", "cjk", "hangul",
                 "thai", "arabic", "hebrew"):
        if tally[name] > best_n:
            best, best_n = name, tally[name]
    return best


def _suspect_decode(blocks: list[Block], quality: float) -> bool:
    """Should the orientation retry run? Bad hamming quality is the
    original trigger; the second is an IMPERFECT decode that contains any
    strong non-Latin glyph — rotated Latin glyphs can hamming-match
    Greek/Hebrew LUT entries just under the distance threshold (the
    multi-script LUT widened exactly this failure mode: 'ΞHבUב'-style
    mixed-script garbage at q≈1.9). The tell is TWO OR MORE distinct
    non-Latin scripts on one page: rotated-Latin garbage scatters across
    the glyph space (measured: greek+hebrew together on every such page),
    while a genuine bidi/Greek/Cyrillic page decodes exactly ONE foreign
    script (and a clean one decodes q == 0 and pays nothing here) — so
    real multilingual pages never enter the rotation ladder."""
    if quality > OSD_RETRY_DIST:
        return True
    if quality <= 0:
        return False
    t = _script_tally(blocks)
    return sum(1 for k in ("greek", "cyrillic", "devanagari", "cjk",
                           "hangul", "thai", "arabic", "hebrew")
               if t[k] > 0) >= 2


def _script_vote_rtl(blocks: list[Block]) -> bool:
    """RTL consequence of the script vote: only an RTL-script win
    (Hebrew or Arabic) flips the page's reading order (Greek/Latin are
    both LTR — the vote identifies them but changes nothing
    downstream)."""
    return _page_script(blocks) in ("hebrew", "arabic")


def _script_strays(blocks: list[Block], script: str) -> bool:
    """Does a page whose vote clearly wins `script` carry a FEW stray
    glyphs of other scripts? That is the shape of a per-glyph hamming
    mishap (a warped Latin E on a bowed page matching Greek Ξ), not of a
    genuinely multilingual page: bidi/mixed pages tally both scripts in
    comparable numbers and never clear the 8:1 majority."""
    t = _script_tally(blocks)
    others = sum(v for k, v in t.items() if k != script)
    return 0 < others <= 2 and t[script] >= 8 * others


def _script_restrict(rec, script: str):
    """Recognizer restricted to one script's strong glyphs + all shared/
    neutral characters — the re-decode table of the script-consistency
    pass (the adaptive second half of the reference's Recognize:
    osdetect's script result gates which unicharset competes). Works on
    either recognizer strategy: restriction is part of the seam contract."""
    from ..fixtures.font import (STRONG_ARABIC, STRONG_CJK,
                                 STRONG_CYRILLIC, STRONG_DEVANAGARI,
                                 STRONG_GREEK)

    strong = {"latin": STRONG_LTR - STRONG_GREEK - STRONG_CYRILLIC
              - STRONG_DEVANAGARI - STRONG_CJK,
              "greek": STRONG_GREEK, "cyrillic": STRONG_CYRILLIC,
              "devanagari": STRONG_DEVANAGARI, "cjk": STRONG_CJK,
              "arabic": STRONG_ARABIC,
              "hebrew": STRONG_RTL - STRONG_ARABIC}
    drop: set[str] = set()
    for k, glyphs in strong.items():
        if k != script:
            drop |= glyphs
    return rec.restrict([c for c in rec.chars if c not in drop])


def analyse_zones(gray: np.ndarray, zones: list[dict], rtl: bool = False,
                  whitelist: str | None = None,
                  recognizer: str = "template") -> list[Block]:
    """S10 zone-file SOURCE: segmentation supplied by the caller overrides
    page analysis entirely — the reference reads UNLV .uzn zone files
    (src/ccstruct/blread.cpp read_unlv_file) and a non-empty block list
    makes SegmentPage skip AutoPageSeg (src/ccmain/pagesegmain.cpp:114-127).
    One Block per zone, in the given order, with the given kind; text zones
    are recognized as one uniform block (PSM_SINGLE_BLOCK semantics) inside
    their rectangle, image/line zones pass through untyped."""
    rec = decode_tables(whitelist, recognizer)
    ink = binarize(gray)
    out: list[Block] = []
    for i, z in enumerate(zones):
        l, t = int(z["left"]), int(z["top"])
        r, b = int(z["right"]), int(z["bottom"])
        kind = z["kind"]
        if kind in (FLOWING_IMAGE, PULLOUT_IMAGE, HORZ_LINE, VERT_LINE):
            out.append(Block(i, kind, None, l, t, r, b))
            continue
        x0, y0 = max(l, 0), max(t, 0)
        sub = ink[y0 : b + 1, x0 : r + 1]
        blocks, _q = _analyse_ink(sub, rtl=rtl, psm="single_block", rec=rec)
        text = "\n".join(bb.text for bb in blocks if bb.text)
        # word hierarchy carries through the zone: inner sub-blocks become
        # consecutive paragraphs, boxes restored to page coordinates (the
        # same rect_left_/rect_top_ restoration the crop path does)
        words: list[tuple] = []
        para_base = 0
        for bb in blocks:
            if not bb.words:
                continue
            for (p, ln, wn, wtext, wl, wt, wr, wb, conf, syms,
                 lmeta) in bb.words:
                # lmeta is translation-invariant (slope and bottom-relative
                # offset), so the page-coordinate restoration leaves it alone
                words.append((para_base + p, ln, wn, wtext,
                              wl + x0, wt + y0, wr + x0, wb + y0, conf,
                              tuple((c, sl + x0, st + y0, sr + x0, sb + y0,
                                     sc) for c, sl, st, sr, sb, sc in syms),
                              lmeta))
            para_base += max(w[0] for w in bb.words) + 1
        out.append(Block(i, kind, text or None, l, t, r, b,
                         words=words or None))
    return out


def analyse_page(gray: np.ndarray, rtl: bool = False, psm: str = "auto",
                 whitelist: str | None = None,
                 recognizer: str = "template") -> list[Block]:
    """Full page analysis + recognition: binarize, analyse; if recognition
    quality is poor, retry at 90/180/270 degrees and keep the best — the
    orientation-detection pass (C10, osdetect.cpp:239) fused with the
    retry-with-alternate-config loop (ProcessPages, baseapi.h:732). After
    orientation settles, a script vote (osdetect.cpp:286) flips the page to
    RTL ordering when its decoded glyphs are majority strong-RTL — the
    script half of OSD, gated to psm='auto' like the reference's
    PSM_OSD_ENABLED inequality (publictypes.h:192).

    rtl/psm/whitelist/recognizer are the SetVariable-style knobs
    (ExtractConfig): column direction, PageSegMode stage gating,
    SetBlackAndWhitelist, and the C11 recognizer strategy (the analog of
    loading a different .traineddata model pack)."""
    rec = decode_tables(whitelist, recognizer)
    ink = binarize(gray)
    best_rot, best_div = 0, 4.0
    out, quality = _analyse_ink(ink, rtl=rtl, psm=psm, rec=rec)
    if quality > 0:
        # any imperfect decode → cheap alternate-config retries first:
        # finer skew-profile bins (sparse pages can alias at the default
        # granularity) then COARSER bins (strong bows can overfit the
        # default grid — residual warp at row edges turns R into P).
        # ProcessPages retry_config, baseapi.h:732.
        for div in (8.0, 2.0):
            cand, q = _analyse_ink(ink, skew_bin_div=div, rtl=rtl, psm=psm,
                                   rec=rec)
            if q < quality:
                out, quality, best_div = cand, q, div
            if quality <= 0:
                break
    if _suspect_decode(out, quality) and psm == "auto":
        # still bad (or imperfect with non-Latin glyphs — rotated Latin
        # masquerading as Greek/Hebrew) → try the three other orientations
        # (C10), both bins. OSD only runs in auto mode, like the
        # reference's PSM_OSD gate (publictypes.h:192 PSM_OSD_ENABLED).
        for k, div in [(1, 4.0), (2, 4.0), (3, 4.0), (1, 8.0), (2, 8.0), (3, 8.0)]:
            cand, q = _analyse_ink(np.rot90(ink, k), skew_bin_div=div,
                                   rtl=rtl, rec=rec)
            if q < quality:
                out, quality, best_rot, best_div = cand, q, k, div
            if not _suspect_decode(out, quality):
                break
    used_rtl = rtl
    if psm == "auto" and not rtl and _script_vote_rtl(out):
        # script vote fired: re-run the winning orientation/config with RTL
        # ordering (columns right→left, bidi word reorder per line) — one
        # extra kernel pass, only on pages that actually decode as RTL.
        # Keep the re-run only if decode quality did not degrade: a marginal
        # vote on a near-letterless page must not replace a good LTR result
        # (osdetect keeps the best-scoring hypothesis, not the last one).
        cand, q = _analyse_ink(np.rot90(ink, best_rot), skew_bin_div=best_div,
                               rtl=True, psm=psm, rec=rec)
        if q <= quality:
            out, quality, used_rtl = cand, q, True
    if psm == "auto" and not whitelist:
        # script-CONSISTENCY pass: the page voted one script by a clear
        # majority but one or two glyphs decoded into another (a warped E
        # hamming-matching Greek Ξ on a bowed page). Re-decode with the
        # LUT restricted to the winning script + shared characters — the
        # adaptive second half of the reference's Recognize, where
        # osdetect's script gates the competing unicharset. The re-decode
        # differs only at the stray glyphs (same geometry config), so it
        # pays their small extra hamming by construction; the +1.0 bound
        # is a sanity guard, not a preference test. One extra kernel pass,
        # only on the rare stray pages; genuinely multilingual pages never
        # trip the 8:1 majority test.
        script = _page_script(out)
        if _script_strays(out, script):
            cand, q = _analyse_ink(np.rot90(ink, best_rot),
                                   skew_bin_div=best_div, rtl=used_rtl,
                                   psm=psm, rec=_script_restrict(rec, script))
            if q <= quality + 1.0:
                out = cand
    return out
