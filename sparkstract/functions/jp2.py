"""JPEG 2000 (ISO/IEC 15444-1 / ITU-T T.800) — the /JPXDecode codec,
from scratch.

Closes the last named-error codec seam: PDF image XObjects may carry
their raster as a JPEG 2000 codestream (/JPXDecode, ISO 32000 §7.4.9),
and standalone .jp2/.j2k files show up in crawl media.  The reference
ingests them through Leptonica's pixReadMem sniff (SetImage,
/root/reference/src/api/baseapi.cpp:881) when built with OpenJPEG.

Scope — the baseline Part-1 decoder surface a real archive exercises:

* raw codestream (SOC..EOC) and the JP2 box container (signature /
  ftyp / jp2h walked, codestream extracted from the jp2c box);
* SIZ / COD / COC / QCD / QCC / COM / SOT / SOD / EOC markers; SOP and
  EPH per the COD flags; PLT/PLM/TLM skipped (they are hints);
* all five progression orders, over the default (maximal) precinct
  grid AND user-defined precincts (B.6: per-resolution PPx/PPy, the
  B.7 code-block clamp, per-precinct inclusion/zero-plane tag trees,
  one packet per precinct — the Internet Archive / Kakadu Cprecincts
  shape); positional progressions (PCRL/CPRL) with multiple precincts
  raise a named error;
* multiple tiles and multiple tile-parts per tile (tile-part payloads
  are concatenated in TPsot order before packet parsing);
* EBCOT Tier-1 (Annex D): MQ coder (Annex C), all three coding passes,
  run-length + segmentation-symbol cleanup modes, and ALL SIX
  code-block styles — per-pass terminated segments (TERMALL),
  selective arithmetic BYPASS (raw SPP/MRP segments with FF
  bit-stuffing from the 5th SPP on, whole-segment length signaling
  across quality layers), per-pass context RESET, vertically-CAUSAL
  contexts (stripe-bottom neighborhood masking), predictable
  termination (accepted — an encoder-side constraint), segmentation
  symbols;
* 5/3 reversible DWT (lossless, bit-exact) and 9/7 irreversible DWT
  (lossy) with no-quantization / scalar-derived / scalar-expounded
  dequantization (Annex E/F);
* RCT and ICT multi-component inverses, DC level shift, grayscale
  collapse via BT.601 like the other codecs;
* component subsampling (XRsiz/YRsiz > 1) and ROI (RGN) raise named
  out-of-scope errors.

No independent JPEG 2000 implementation exists in this container, so —
exactly like functions/webp.py — correctness rests on (a) the fixture
encoder emitting spec-shaped codestreams that the decoder must
round-trip bit-exactly (5/3) or within tolerance (9/7), (b) hand-walked
bit-level vectors for the MQ coder, tag trees and packet headers pinned
in tests/test_jp2.py, and (c) decode-bomb guards mirroring the codec
family's "guard BEFORE allocating" discipline.

Mirror encoder: sparkstract/fixtures/encoders/jp2.py.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_PIXELS = 64_000_000  # decode-bomb guard, matches the codec family

# ---------------------------------------------------------------------------
# MQ arithmetic coder — T.800 Annex C (same coder as JBIG2/T.88 Annex E).
# The 47-row probability state machine is Table C.2 of the spec.
# ---------------------------------------------------------------------------

_QE = (
    0x5601, 0x3401, 0x1801, 0x0AC1, 0x0521, 0x0221, 0x5601, 0x5401,
    0x4801, 0x3801, 0x3001, 0x2401, 0x1C01, 0x1601, 0x5601, 0x5401,
    0x5101, 0x4801, 0x3801, 0x3401, 0x3001, 0x2801, 0x2401, 0x2201,
    0x1C01, 0x1801, 0x1601, 0x1401, 0x1201, 0x1101, 0x0AC1, 0x09C1,
    0x08A1, 0x0521, 0x0441, 0x02A1, 0x0221, 0x0141, 0x0111, 0x0085,
    0x0049, 0x0025, 0x0015, 0x0009, 0x0005, 0x0001, 0x5601,
)
_NMPS = (
    1, 2, 3, 4, 5, 38, 7, 8, 9, 10, 11, 12, 13, 29, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 45, 46,
)
_NLPS = (
    1, 6, 9, 12, 29, 33, 6, 14, 14, 14, 17, 18, 20, 21, 14, 14,
    15, 16, 17, 18, 19, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29,
    30, 31, 32, 33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 46,
)
_SWITCH = (
    1, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 1, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
)


class MQDecoder:
    """Annex C.3 decoder over one terminated segment of bytes."""

    __slots__ = ("data", "bp", "c", "ct", "a")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.bp = 0
        b0 = data[0] if data else 0xFF
        self.c = b0 << 16
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _bytein(self) -> None:
        d, bp = self.data, self.bp
        b = d[bp] if bp < len(d) else 0xFF
        if b == 0xFF:
            b1 = d[bp + 1] if bp + 1 < len(d) else 0xFF
            if b1 > 0x8F:
                # marker (or segment end): feed 1-bits forever
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp = bp + 1
                self.c += b1 << 9
                self.ct = 7
        else:
            self.bp = bp + 1
            b1 = d[bp + 1] if bp + 1 < len(d) else 0xFF
            self.c += b1 << 8
            self.ct = 8

    def decode(self, cx: list) -> int:
        # cx is a 2-slot [state_index, mps] context record
        i, mps = cx
        qe = _QE[i]
        self.a -= qe
        if ((self.c >> 16) & 0xFFFF) < qe:
            # LPS exchange path (C.3.2)
            if self.a < qe:
                d = mps
                cx[0] = _NMPS[i]
            else:
                d = 1 - mps
                if _SWITCH[i]:
                    cx[1] = 1 - mps
                cx[0] = _NLPS[i]
            self.a = qe
        else:
            self.c -= qe << 16
            if self.a & 0x8000:
                return mps
            if self.a < qe:
                d = 1 - mps
                if _SWITCH[i]:
                    cx[1] = 1 - mps
                cx[0] = _NLPS[i]
            else:
                d = mps
                cx[0] = _NMPS[i]
        # RENORMD
        a, c, ct = self.a, self.c, self.ct
        while True:
            if ct == 0:
                self.c, self.ct = c, ct
                self._bytein()
                c, ct = self.c, self.ct
            a = (a << 1) & 0xFFFF
            c = (c << 1) & 0xFFFFFFFF
            ct -= 1
            if a & 0x8000:
                break
        self.a, self.c, self.ct = a, c, ct
        return d


def new_contexts(n: int = 19) -> list:
    """Fresh per-code-block context bank (D.2: all (0,0) except the
    all-zero-neighborhood ZC context=4, run-length=3, uniform=46)."""
    cxs = [[0, 0] for _ in range(n)]
    cxs[_CX_ZC0][0] = 4
    cxs[_CX_RL][0] = 3
    cxs[_CX_UNI][0] = 46
    return cxs


# ---------------------------------------------------------------------------
# Packet-header bit IO — B.10.1: MSB-first with bit stuffing (a 0 bit is
# inserted after every 0xFF byte so headers never contain FF90-FFFF).
# ---------------------------------------------------------------------------

class _HdrReader:
    __slots__ = ("d", "pos", "buf", "n", "prev_ff")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.d = data
        self.pos = pos
        self.buf = 0
        self.n = 0
        self.prev_ff = False

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.d):
                raise ValueError("JPEG2000 packet header truncated")
            b = self.d[self.pos]
            self.pos += 1
            if self.prev_ff:
                if b & 0x80:
                    raise ValueError("JPEG2000 packet header: missing "
                                     "stuffed 0 after 0xFF")
                self.buf, self.n = b, 7
            else:
                self.buf, self.n = b, 8
            self.prev_ff = b == 0xFF
        self.n -= 1
        return (self.buf >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> None:
        """End of packet header (B.10.1): skip to the byte boundary; a
        final 0xFF carries one mandatory stuffed bit in the NEXT byte."""
        if self.prev_ff and self.n == 0:
            # the stuffing byte after a trailing FF belongs to the header
            if self.pos < len(self.d):
                if self.d[self.pos] & 0x80:
                    raise ValueError("JPEG2000 packet header: missing "
                                     "stuffed 0 after 0xFF")
                self.pos += 1
        self.buf = 0
        self.n = 0
        self.prev_ff = False


# ---------------------------------------------------------------------------
# Tag trees — B.10.2.  A quad-tree over a w×h leaf grid; each node's value
# is the min over its subtree; queries are threshold-relative.
# ---------------------------------------------------------------------------

class TagTree:
    def __init__(self, w: int, h: int) -> None:
        self.w, self.h = w, h
        self.levels = []          # level 0 = leaves, last = 1x1 root
        lw, lh = w, h
        while True:
            self.levels.append((lw, lh))
            if lw == 1 and lh == 1:
                break
            lw = (lw + 1) // 2
            lh = (lh + 1) // 2
        n = sum(lw * lh for lw, lh in self.levels)
        self.value = [0] * n      # proven lower bound so far
        self.known = [False] * n
        self.off = []
        o = 0
        for lw, lh in self.levels:
            self.off.append(o)
            o += lw * lh

    def set_values(self, grid) -> None:
        """Encoder side: install true leaf values; internal = subtree min."""
        vals = [list(map(int, row)) for row in grid]
        cur = vals
        self.true = []
        for lw, lh in self.levels:
            level = [[0] * lw for _ in range(lh)]
            for y in range(lh):
                for x in range(lw):
                    level[y][x] = cur[y][x]
            self.true.append(level)
            nxt = [[1 << 30] * ((lw + 1) // 2) for _ in range((lh + 1) // 2)]
            for y in range(lh):
                for x in range(lw):
                    ny, nx = y // 2, x // 2
                    if level[y][x] < nxt[ny][nx]:
                        nxt[ny][nx] = level[y][x]
            cur = nxt

    def _path(self, x: int, y: int) -> list:
        p = []
        for lvl, (lw, lh) in enumerate(self.levels):
            p.append(self.off[lvl] + y * lw + x)
            x //= 2
            y //= 2
        p.reverse()               # root first
        return p

    def decode(self, rd: _HdrReader, x: int, y: int, threshold: int) -> bool:
        """Returns True iff leaf value < threshold (value then in
        .value[leaf]); consumes exactly the spec's bits."""
        low = 0
        for idx in self._path(x, y):
            if self.value[idx] < low:
                self.value[idx] = low
            while not self.known[idx] and self.value[idx] < threshold:
                if rd.bit():
                    self.known[idx] = True
                else:
                    self.value[idx] += 1
            low = self.value[idx]
            if not self.known[idx]:
                return False      # proven ≥ threshold
        leaf = self._path(x, y)[-1]
        return self.value[leaf] < threshold

    def encode(self, wr, x: int, y: int, threshold: int) -> None:
        """Emit the bits the decoder above will consume for this query
        into `wr`, the header bit writer of fixtures/encoders/jp2.py.
        set_values must have been called."""
        low = 0
        path = self._path(x, y)
        for lvl_i, idx in enumerate(path):
            lvl = len(path) - 1 - lvl_i   # levels list is leaves-first
            lw, _ = self.levels[lvl]
            node_y = (idx - self.off[lvl]) // lw
            node_x = (idx - self.off[lvl]) % lw
            tv = self.true[lvl][node_y][node_x]
            if self.value[idx] < low:
                self.value[idx] = low
            while not self.known[idx] and self.value[idx] < threshold:
                if self.value[idx] < tv:
                    wr.bit(0)
                    self.value[idx] += 1
                else:
                    wr.bit(1)
                    self.known[idx] = True
            low = self.value[idx]
            if not self.known[idx]:
                return


# ---------------------------------------------------------------------------
# Tier-1: EBCOT code-block coefficient coding — Annex D.
# Contexts 0-8 zero coding, 9-13 sign, 14-16 magnitude refinement,
# 17 run-length, 18 uniform.
# ---------------------------------------------------------------------------

_CX_ZC0 = 0
_CX_SC0 = 9
_CX_MR0 = 14
_CX_RL = 17
_CX_UNI = 18

# Zero-coding context from (h, v, d) significant-neighbor counts,
# Table D.1.  Band orientations: LL/LH use (h,v), HL swaps, HH is own.
def _zc_lut_lh():
    lut = {}
    for h in range(3):
        for v in range(3):
            for d in range(5):
                if h == 2:
                    c = 8
                elif h == 1:
                    c = 7 if v >= 1 else (6 if d >= 1 else 5)
                elif v == 2:
                    c = 4
                elif v == 1:
                    c = 3
                elif d >= 2:
                    c = 2
                elif d == 1:
                    c = 1
                else:
                    c = 0
                lut[(h, v, d)] = c
    return lut


def _zc_lut_hh():
    lut = {}
    for h in range(3):
        for v in range(3):
            for d in range(5):
                hv = h + v
                if d >= 3:
                    c = 8
                elif d == 2:
                    c = 7 if hv >= 1 else 6
                elif d == 1:
                    c = 5 if hv >= 2 else (4 if hv == 1 else 3)
                else:
                    c = 2 if hv >= 2 else (1 if hv == 1 else 0)
                lut[(h, v, d)] = c
    return lut


_ZC_LH = _zc_lut_lh()
_ZC_HH = _zc_lut_hh()

# Sign-coding context + xor bit from clamped (H, V) contributions,
# Table D.3/D.4.
_SC = {
    (1, 1): (13, 0), (1, 0): (12, 0), (1, -1): (11, 0),
    (0, 1): (10, 0), (0, 0): (9, 0), (0, -1): (10, 1),
    (-1, 1): (11, 1), (-1, 0): (12, 1), (-1, -1): (13, 1),
}


# Flat LUTs for the hot loops: ZC context by h*15+v*5+d, SC by (hc+1)*3+(vc+1)
_ZC_LH_F = tuple(_ZC_LH[(h, v, d)]
                 for h in range(3) for v in range(3) for d in range(5))
_ZC_HH_F = tuple(_ZC_HH[(h, v, d)]
                 for h in range(3) for v in range(3) for d in range(5))
_SC_F = tuple(_SC[(hc, vc)] for hc in (-1, 0, 1) for vc in (-1, 0, 1))

_NBR_OFFS = None  # filled per-width below


# --- codeword-segment schedule + raw (bypassed) bit IO, Annex D.4 ---
#
# With BYPASS, coding passes from the 5th significance-propagation pass
# on (absolute pass index >= 10) code their SPP and MRP as raw bits; the
# MQ codeword terminates before each raw run and each raw segment
# terminates before the next MQ cleanup, so segments alternate
# [10 MQ passes][2 raw][1 MQ][2 raw][1 MQ]...  TERMALL terminates every
# pass (and dominates when combined with BYPASS).

_BYPASS_START = 10


def _seg_of_pass(k: int, termall: bool, bypass: bool) -> int:
    if termall:
        return k
    if bypass and k >= _BYPASS_START:
        q = k - _BYPASS_START
        return 1 + (q // 3) * 2 + (1 if q % 3 == 2 else 0)
    return 0


def _pass_is_raw(k: int, kind: str, bypass: bool) -> bool:
    return bypass and k >= _BYPASS_START and kind != "C"


class _RawBits:
    """Raw-segment bit reader (D.4.3): MSB-first, one stuffed (skipped)
    top bit in any byte following 0xFF; feeds 1-bits past the end."""

    __slots__ = ("d", "pos", "cur", "ct", "last")

    def __init__(self, d: bytes) -> None:
        self.d = d
        self.pos = 0
        self.cur = 0
        self.ct = 0
        self.last = 0

    def bit(self) -> int:
        if self.ct == 0:
            b = self.d[self.pos] if self.pos < len(self.d) else 0xFF
            self.pos += 1
            if self.last == 0xFF:
                self.ct = 7
                self.cur = b & 0x7F
            else:
                self.ct = 8
                self.cur = b
            self.last = b
        self.ct -= 1
        return (self.cur >> self.ct) & 1


def t1_decode(segments, npasses: int, w: int, h: int, band: str,
              zero_planes: int, mb: int, segsym: bool = False,
              termall: bool = False, bypass: bool = False,
              reset: bool = False, causal: bool = False) -> np.ndarray:
    """Decode one code block: returns int32 signed coefficients.

    segments: list of byte strings — one per codeword segment (a single
    joined segment unless TERMALL, where each pass terminates its own).
    The coefficient state machine is Annex D: flat Python lists with an
    incrementally maintained neighborhood flag keep the per-sample cost
    low enough for fixture-page decode without leaving pure Python.
    """
    if w <= 0 or h <= 0 or w * h > 1 << 14:
        raise ValueError("JPEG2000 code block dimensions invalid")
    W = w + 2
    n = (h + 2) * W
    sig = [0] * n
    sgn = [0] * n           # 1 = negative (only meaningful where sig)
    vis = [-1] * n          # pass-version stamp: coded in this plane's SPP
    ref = [0] * n
    # zidx packs the significant-neighbor counts as hs*15 + vs*5 + ds —
    # the flat ZC-LUT index — maintained incrementally by set_sig, so the
    # hot loops read ONE cell instead of eight (zidx != 0 also replaces
    # the old any-significant-neighbor flag). Counts never exceed the LUT
    # ranges (2 horizontal, 2 vertical, 4 diagonal neighbors).
    zidx = [0] * n
    mag = [0] * (w * h)
    swap = band == "HL"
    dh, dv = (5, 15) if swap else (15, 5)   # HL swaps h/v at Table D.1
    zcf = _ZC_HH_F if band == "HH" else _ZC_LH_F
    cxs = new_contexts()
    mq = MQDecoder(segments[0] if segments else b"")
    rb: _RawBits | None = None
    cur_seg = 0
    nplanes = mb - zero_planes
    if nplanes <= 0:
        return np.zeros((h, w), np.int32)
    passes = []
    for p in range(nplanes - 1, -1, -1):
        if p == nplanes - 1:
            passes.append(("C", p))
        else:
            passes.append(("S", p))
            passes.append(("M", p))
            passes.append(("C", p))
    passes = passes[:npasses]
    ver = 0                 # current plane's SPP visit stamp (0 = none)

    def zx_causal(i):
        # vertically-causal neighborhood (D.?): a stripe-bottom sample's
        # context ignores the (already coded in earlier planes) samples
        # of the NEXT stripe — same packed hs*dh + vs*dv + ds form
        return (dh * (sig[i - 1] + sig[i + 1]) + dv * sig[i - W]
                + sig[i - W - 1] + sig[i - W + 1])

    def sc_causal(i):
        hc = 0
        if sig[i - 1]:
            hc += 1 - 2 * sgn[i - 1]
        if sig[i + 1]:
            hc += 1 - 2 * sgn[i + 1]
        vc = 1 - 2 * sgn[i - W] if sig[i - W] else 0
        hc = -1 if hc < -1 else (1 if hc > 1 else hc)
        vc = -1 if vc < -1 else (1 if vc > 1 else vc)
        return _SC_F[(hc + 1) * 3 + (vc + 1)]

    def sc(i):
        hc = 0
        if sig[i - 1]:
            hc += 1 - 2 * sgn[i - 1]
        if sig[i + 1]:
            hc += 1 - 2 * sgn[i + 1]
        vc = 0
        if sig[i - W]:
            vc += 1 - 2 * sgn[i - W]
        if sig[i + W]:
            vc += 1 - 2 * sgn[i + W]
        hc = -1 if hc < -1 else (1 if hc > 1 else hc)
        vc = -1 if vc < -1 else (1 if vc > 1 else vc)
        return _SC_F[(hc + 1) * 3 + (vc + 1)]

    def set_sig(i, neg):
        sig[i] = 1
        sgn[i] = neg
        zidx[i - 1] += dh
        zidx[i + 1] += dh
        zidx[i - W] += dv
        zidx[i + W] += dv
        zidx[i - W - 1] += 1
        zidx[i - W + 1] += 1
        zidx[i + W - 1] += 1
        zidx[i + W + 1] += 1

    for k, (kind, p) in enumerate(passes):
        bit = 1 << p
        s = _seg_of_pass(k, termall, bypass)
        raw = _pass_is_raw(k, kind, bypass)
        if s != cur_seg:
            cur_seg = s
            sdata = segments[s] if s < len(segments) else b""
            if raw:
                rb = _RawBits(sdata)
            else:
                mq = MQDecoder(sdata)
        if reset:
            cxs = new_contexts()
        dec = mq.decode
        if kind == "S":
            ver += 1        # fresh visit stamp per plane (set by SPP only)
            rbit = rb.bit if raw else None
            for y0 in range(0, h, 4):
                ylim = min(y0 + 4, h)
                ybot = ylim - 1
                for x in range(w):
                    i = (y0 + 1) * W + x + 1
                    mi = y0 * w + x
                    for _y in range(y0, ylim):
                        z = (zx_causal(i) if causal and _y == ybot
                             else zidx[i])
                        if not sig[i] and z:
                            if raw:
                                d = rbit()
                                vis[i] = ver
                                if d:
                                    set_sig(i, rbit())
                                    mag[mi] |= bit
                            else:
                                d = dec(cxs[zcf[z]])
                                vis[i] = ver
                                if d:
                                    ctx, xb = (sc_causal(i)
                                               if causal and _y == ybot
                                               else sc(i))
                                    neg = dec(cxs[ctx]) ^ xb
                                    set_sig(i, neg)
                                    mag[mi] |= bit
                        i += W
                        mi += w
        elif kind == "M":
            rbit = rb.bit if raw else None
            for y0 in range(0, h, 4):
                ylim = min(y0 + 4, h)
                ybot = ylim - 1
                for x in range(w):
                    i = (y0 + 1) * W + x + 1
                    mi = y0 * w + x
                    for _y in range(y0, ylim):
                        # only samples significant BEFORE this plane are
                        # refined (D.3.3); vis excludes SPP's new ones
                        if sig[i] and vis[i] != ver:
                            if raw:
                                if rbit():
                                    mag[mi] |= bit
                            else:
                                if ref[i]:
                                    ctx = 16
                                else:
                                    z = (zx_causal(i)
                                         if causal and _y == ybot
                                         else zidx[i])
                                    ctx = 15 if z else 14
                                    ref[i] = 1
                                if dec(cxs[ctx]):
                                    mag[mi] |= bit
                        i += W
                        mi += w
        else:  # cleanup
            cx_rl = cxs[_CX_RL]
            cx_uni = cxs[_CX_UNI]
            for y0 in range(0, h, 4):
                ylim = min(y0 + 4, h)
                ybot = ylim - 1
                full = ylim - y0 == 4
                for x in range(w):
                    i = (y0 + 1) * W + x + 1
                    mi = y0 * w + x
                    y = y0
                    i3 = i + 3 * W
                    if full and not (
                            sig[i] or vis[i] == ver or zidx[i]
                            or sig[i + W] or vis[i + W] == ver
                            or zidx[i + W]
                            or sig[i + 2 * W] or vis[i + 2 * W] == ver
                            or zidx[i + 2 * W]
                            or sig[i3] or vis[i3] == ver
                            or (zx_causal(i3) if causal else zidx[i3])):
                        if not dec(cx_rl):
                            continue
                        r = (dec(cx_uni) << 1) | dec(cx_uni)
                        i += r * W
                        mi += r * w
                        y = y0 + r
                        ctx, xb = (sc_causal(i) if causal and r == 3
                                   else sc(i))
                        neg = dec(cxs[ctx]) ^ xb
                        set_sig(i, neg)
                        mag[mi] |= bit
                        i += W
                        mi += w
                        y += 1
                    while y < ylim:
                        if not sig[i] and vis[i] != ver:
                            z = (zx_causal(i) if causal and y == ybot
                                 else zidx[i])
                            if dec(cxs[zcf[z]]):
                                ctx, xb = (sc_causal(i)
                                           if causal and y == ybot
                                           else sc(i))
                                neg = dec(cxs[ctx]) ^ xb
                                set_sig(i, neg)
                                mag[mi] |= bit
                        i += W
                        mi += w
                        y += 1
            if segsym:
                v = 0
                for _ in range(4):
                    v = (v << 1) | dec(cxs[_CX_UNI])
                if v != 0xA:
                    raise ValueError("JPEG2000 Tier-1 segmentation symbol "
                                     "mismatch (corrupt code block)")
    out = np.array(mag, np.int64).reshape(h, w)
    sg = np.array(sgn, np.int8).reshape(h + 2, W)[1:-1, 1:-1]
    out[sg == 1] *= -1
    return out.astype(np.int32)


# ---------------------------------------------------------------------------
# Discrete wavelet transforms — Annex F.  1D transforms operate on the last
# axis of a 2D array (vectorized across the other), with the signal's
# ABSOLUTE start coordinate i0 deciding even/odd phase (F.3.5: low-pass
# samples live at even canvas positions).  Whole-point symmetric extension.
# Order conventions (F.4.8.1 mirrored): forward = vertical then horizontal,
# inverse = horizontal then vertical.
# ---------------------------------------------------------------------------

def _reflect(j: int, n: int) -> int:
    """Whole-point symmetric index into [0, n)."""
    if n == 1:
        return 0
    period = 2 * (n - 1)
    m = j % period
    return m if m <= n - 1 else period - m


def _extend(a: np.ndarray, pad: int) -> np.ndarray:
    """Symmetric extension by `pad` samples each side along the last axis."""
    n = a.shape[-1]
    idx = [_reflect(j, n) for j in range(-pad, n + pad)]
    return a[..., idx]


def inv53_1d(y: np.ndarray, i0: int) -> np.ndarray:
    """Inverse reversible 5/3 on interleaved coefficients (F.3.8.2.1)."""
    n = y.shape[-1]
    if n == 1:
        return y.copy() if i0 % 2 == 0 else (y >> 1)
    e = _extend(y.astype(np.int64), 2)  # index p -> e[p - i0 + 2]
    i1 = i0 + n
    x = e.copy()
    pe = np.arange(i0 if i0 % 2 == 0 else i0 + 1, i1, 2) - i0 + 2
    x[..., pe] = e[..., pe] - ((e[..., pe - 1] + e[..., pe + 1] + 2) >> 2)
    # refresh the extension from the updated even samples (out-of-range
    # odd-step reads always land on even positions — see the phase proof
    # in tests/test_jp2.py)
    x[..., 1] = x[..., 3]
    x[..., 0] = x[..., _reflect(-2, n) + 2]
    x[..., n + 2] = x[..., n]
    x[..., n + 3] = x[..., _reflect(n + 1, n) + 2]
    po = np.arange(i0 if i0 % 2 == 1 else i0 + 1, i1, 2) - i0 + 2
    x[..., po] = e[..., po] + ((x[..., po - 1] + x[..., po + 1]) >> 1)
    return x[..., 2:n + 2]


_K97 = 1.230174104914001
_A97 = -1.586134342059924
_B97 = -0.052980118572961
_G97 = 0.882911075530934
_D97 = 0.443506852043971


def inv97_1d(y: np.ndarray, i0: int) -> np.ndarray:
    """Inverse irreversible 9/7 (F.3.8.2.2)."""
    n = y.shape[-1]
    if n == 1:
        return y.copy()
    i1 = i0 + n
    x = _extend(y.astype(np.float64), 4)
    off = 4 - i0
    pe = np.arange(i0 if i0 % 2 == 0 else i0 + 1, i1, 2) + off
    po = np.arange(i0 if i0 % 2 == 1 else i0 + 1, i1, 2) + off

    def resync():
        for j in range(4):
            x[..., j] = x[..., _reflect(j - 4, n) + 4]
            x[..., n + 4 + j] = x[..., _reflect(n + j, n) + 4]

    x[..., pe] *= _K97
    x[..., po] *= 1.0 / _K97
    resync()
    x[..., pe] -= _D97 * (x[..., pe - 1] + x[..., pe + 1])
    resync()
    x[..., po] -= _G97 * (x[..., po - 1] + x[..., po + 1])
    resync()
    x[..., pe] -= _B97 * (x[..., pe - 1] + x[..., pe + 1])
    resync()
    x[..., po] -= _A97 * (x[..., po - 1] + x[..., po + 1])
    return x[..., 4:n + 4]


# ---------------------------------------------------------------------------
# Codestream syntax — Annex A markers, Annex B packet organization.
# ---------------------------------------------------------------------------

_SOC, _SIZ, _COD, _COC, _QCD, _QCC = 0xFF4F, 0xFF51, 0xFF52, 0xFF53, 0xFF5C, 0xFF5D
_SOT, _SOP, _EPH, _SOD, _EOC = 0xFF90, 0xFF91, 0xFF92, 0xFF93, 0xFFD9
_COM, _CRG, _TLM, _PLM, _PLT = 0xFF64, 0xFF63, 0xFF55, 0xFF57, 0xFF58
_RGN, _POC, _PPM, _PPT = 0xFF5E, 0xFF5F, 0xFF60, 0xFF61

_GAIN = {"LL": 0, "HL": 1, "LH": 1, "HH": 2}


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


def _band_rect(tc: tuple, lev: int, btype: str) -> tuple:
    """Band rectangle in its own coordinate system (B-15/F-6)."""
    tcx0, tcy0, tcx1, tcy1 = tc
    if btype == "LL":
        d = 1 << lev
        return (_ceil_div(tcx0, d), _ceil_div(tcy0, d),
                _ceil_div(tcx1, d), _ceil_div(tcy1, d))
    xob = 1 if btype in ("HL", "HH") else 0
    yob = 1 if btype in ("LH", "HH") else 0
    d, h = 1 << lev, 1 << (lev - 1)
    return (_ceil_div(tcx0 - h * xob, d), _ceil_div(tcy0 - h * yob, d),
            _ceil_div(tcx1 - h * xob, d), _ceil_div(tcy1 - h * yob, d))


class _CodingParams:
    """COD/COC + QCD/QCC resolved for one tile-component."""

    def __init__(self, cod: dict, qcd: dict) -> None:
        self.prog = cod["prog"]
        self.layers = cod["layers"]
        self.mct = cod["mct"]
        self.levels = cod["levels"]
        self.xcb = cod["xcb"]
        self.ycb = cod["ycb"]
        self.cbstyle = cod["cbstyle"]
        self.transform = cod["transform"]  # 0 = 9/7, 1 = 5/3
        self.prec = cod.get("prec") or [(15, 15)] * (self.levels + 1)
        self.sop = cod["sop"]
        self.eph = cod["eph"]
        self.qstyle = qcd["style"]
        self.guard = qcd["guard"]
        self.qvals = qcd["vals"]

    def band_quant(self, band_idx: int, btype: str, lev: int, depth: int):
        """-> (Mb magnitude bit-planes, dequant step or None)."""
        gain = _GAIN[btype]
        if self.qstyle == 0:
            eps = self.qvals[band_idx] >> 3
            return self.guard + eps - 1, None
        if self.qstyle == 1:
            v = self.qvals[0]
            eps0, mu = v >> 11, v & 0x7FF
            # E.1.1: eps_b = eps_0 - N_L + n_b, n_b = decomposition count
            eps = eps0 - self.levels + lev
        else:
            v = self.qvals[band_idx]
            eps, mu = v >> 11, v & 0x7FF
        rb = depth + gain
        delta = float(2 ** (rb - eps)) * (1.0 + mu / 2048.0)
        return self.guard + eps - 1, delta


def _parse_cod(body: bytes) -> dict:
    scod = body[0]
    prog, layers, mct = body[1], struct.unpack(">H", body[2:4])[0], body[4]
    levels, xcb, ycb = body[5], (body[6] & 0xF) + 2, (body[7] & 0xF) + 2
    cbstyle, transform = body[8], body[9]
    if scod & 0x01:
        # user-defined precincts: one PPx|PPy<<4 byte per resolution
        # (r = 0 .. levels), B.6
        pb = body[10:10 + levels + 1]
        if len(pb) < levels + 1:
            raise ValueError("JPEG2000: COD precinct sizes truncated")
        prec = [(b & 0xF, b >> 4) for b in pb]
        if any(px == 0 or py == 0 for px, py in prec[1:]):
            raise ValueError("JPEG2000: precinct exponent 0 is only "
                             "legal at resolution 0")
    else:
        prec = [(15, 15)] * (levels + 1)
    # all six code-block styles decode: 0x01 selective bypass, 0x02
    # per-pass context reset, 0x04 TERMALL, 0x08 vertically causal,
    # 0x10 predictable termination (an encoder-side constraint only —
    # decoding is unchanged), 0x20 segmentation symbols
    if prog > 4:
        raise ValueError("JPEG2000: unknown progression order")
    if xcb + ycb > 12:
        raise ValueError("JPEG2000: illegal code-block size")
    return dict(prog=prog, layers=layers, mct=mct, levels=levels, xcb=xcb,
                ycb=ycb, cbstyle=cbstyle, transform=transform, prec=prec,
                sop=bool(scod & 0x02), eph=bool(scod & 0x04))


def _parse_qcd(body: bytes) -> dict:
    s = body[0]
    style, guard = s & 0x1F, s >> 5
    if style == 0:
        vals = list(body[1:])
    elif style in (1, 2):
        vals = [struct.unpack(">H", body[i:i + 2])[0]
                for i in range(1, len(body) - 1, 2)]
    else:
        raise ValueError("JPEG2000: unknown quantization style")
    return dict(style=style, guard=guard, vals=vals)


def _res_rect(tc: tuple, levels: int, r: int) -> tuple:
    """Resolution-r rectangle of the tile-component (B-14)."""
    s = levels - r
    d = 1 << s
    return (_ceil_div(tc[0], d), _ceil_div(tc[1], d),
            _ceil_div(tc[2], d), _ceil_div(tc[3], d))


def _prec_grid(tc: tuple, levels: int, r: int, prec: list) -> tuple:
    """Precinct index grid of resolution r: (prx0, pry0, npx, npy,
    pbx, pby) — origin + count on the res grid (B.6), plus the
    band-coordinate precinct exponents (halved for r > 0)."""
    ppx, ppy = prec[r] if r < len(prec) else (15, 15)
    rx0, ry0, rx1, ry1 = _res_rect(tc, levels, r)
    if rx1 <= rx0 or ry1 <= ry0:
        return (0, 0, 0, 0, ppx, ppy)
    prx0, pry0 = rx0 >> ppx, ry0 >> ppy
    npx = ((rx1 - 1) >> ppx) - prx0 + 1
    npy = ((ry1 - 1) >> ppy) - pry0 + 1
    pbx = ppx - (1 if r > 0 else 0)
    pby = ppy - (1 if r > 0 else 0)
    return (prx0, pry0, npx, npy, pbx, pby)


class _Band:
    def __init__(self, btype: str, lev: int, rect: tuple, xcb: int,
                 ycb: int, prec_grid: tuple | None = None):
        self.btype, self.lev, self.rect = btype, lev, rect
        bx0, by0, bx1, by1 = rect
        self.w, self.h = max(0, bx1 - bx0), max(0, by1 - by0)
        if prec_grid is None:
            prec_grid = (0, 0, 1, 1, 15, 15)
        prx0, pry0, npx, npy, pbx, pby = prec_grid
        # code blocks never straddle precinct boundaries (B.7)
        xcb = min(xcb, pbx)
        ycb = min(ycb, pby)
        if self.w > 0 and self.h > 0:
            self.gx0, self.gy0 = bx0 >> xcb, by0 >> ycb
            self.nbx = ((bx1 - 1) >> xcb) - self.gx0 + 1
            self.nby = ((by1 - 1) >> ycb) - self.gy0 + 1
        else:
            self.gx0 = self.gy0 = self.nbx = self.nby = 0
        # per code block: [included(bool), lblock, zero_planes, npasses, segs]
        self.blocks = [[False, 3, 0, 0, []]
                       for _ in range(self.nbx * self.nby)]
        self.xcb, self.ycb = xcb, ycb
        # one (inclusion tree, zero-plane tree, block subgrid) per
        # precinct, raster order — the packet unit
        self.precincts = []
        for pj in range(max(1, npy)):
            for pi in range(max(1, npx)):
                px0 = (prx0 + pi) << pbx
                px1 = (prx0 + pi + 1) << pbx
                py0 = (pry0 + pj) << pby
                py1 = (pry0 + pj + 1) << pby
                ix0, ix1 = max(bx0, px0), min(bx1, px1)
                iy0, iy1 = max(by0, py0), min(by1, py1)
                if ix1 > ix0 and iy1 > iy0:
                    pgx0 = (ix0 >> xcb) - self.gx0
                    pgy0 = (iy0 >> ycb) - self.gy0
                    pnbx = ((ix1 - 1) >> xcb) - (ix0 >> xcb) + 1
                    pnby = ((iy1 - 1) >> ycb) - (iy0 >> ycb) + 1
                else:
                    pgx0 = pgy0 = pnbx = pnby = 0
                self.precincts.append(dict(
                    incl=TagTree(max(1, pnbx), max(1, pnby)),
                    zb=TagTree(max(1, pnbx), max(1, pnby)),
                    bx0=pgx0, by0=pgy0, nbx=pnbx, nby=pnby))

    def block_rect(self, bx: int, by: int) -> tuple:
        x0 = max(self.rect[0], (self.gx0 + bx) << self.xcb)
        y0 = max(self.rect[1], (self.gy0 + by) << self.ycb)
        x1 = min(self.rect[2], (self.gx0 + bx + 1) << self.xcb)
        y1 = min(self.rect[3], (self.gy0 + by + 1) << self.ycb)
        return x0, y0, x1, y1


def _npasses_decode(rd: _HdrReader) -> int:
    if not rd.bit():
        return 1
    if not rd.bit():
        return 2
    v = rd.bits(2)
    if v < 3:
        return 3 + v
    v = rd.bits(5)
    if v < 31:
        return 6 + v
    return 37 + rd.bits(7)


def _decode_packet(stream: bytes, pos: int, bands: list, layer: int,
                   cp: "_CodingParams", prec: int = 0) -> int:
    """Parse one packet (header + bodies) starting at pos; mutates the
    per-block state on each band; returns the new position. `prec` is
    the precinct index within each band (the packet unit, B.9)."""
    if cp.sop:
        if stream[pos:pos + 2] == b"\xff\x91":
            pos += 6
    rd = _HdrReader(stream, pos)
    new_segs = []  # (block_rec, nbytes list)
    if rd.bit():
        for band in bands:
            pr = (band.precincts[prec] if prec < len(band.precincts)
                  else None)
            if pr is None or not pr["nbx"] or not pr["nby"]:
                continue
            for py in range(pr["nby"]):
                for px in range(pr["nbx"]):
                    bx = pr["bx0"] + px
                    by = pr["by0"] + py
                    rec = band.blocks[by * band.nbx + bx]
                    if not rec[0]:
                        included = pr["incl"].decode(rd, px, py, layer + 1)
                    else:
                        included = bool(rd.bit())
                    if not included:
                        continue
                    if not rec[0]:
                        rec[0] = True
                        t = 1
                        while not pr["zb"].decode(rd, px, py, t):
                            t += 1
                        leaf = pr["zb"]._path(px, py)[-1]
                        rec[2] = pr["zb"].value[leaf]
                    np_new = _npasses_decode(rd)
                    while rd.bit():
                        rec[1] += 1
                    # group this contribution's passes by codeword
                    # segment (B.10.7: one length per segment portion,
                    # Lblock + floor(log2 passes) bits each); TERMALL
                    # and BYPASS split the codeword, plain style is one
                    # segment
                    ta = bool(cp.cbstyle & 0x04)
                    byp = bool(cp.cbstyle & 0x01)
                    lengths = []
                    k0 = rec[3]
                    while k0 < rec[3] + np_new:
                        seg = _seg_of_pass(k0, ta, byp)
                        k1 = k0 + 1
                        while (k1 < rec[3] + np_new
                               and _seg_of_pass(k1, ta, byp) == seg):
                            k1 += 1
                        cnt = k1 - k0
                        lengths.append(
                            (seg, rd.bits(rec[1] + cnt.bit_length() - 1)))
                        k0 = k1
                    rec[3] += np_new
                    new_segs.append((rec, lengths))
    rd.align()
    pos = rd.pos
    if cp.eph:
        if stream[pos:pos + 2] != b"\xff\x92":
            raise ValueError("JPEG2000: missing EPH marker")
        pos += 2
    for rec, lengths in new_segs:
        for seg, nb in lengths:
            if pos + nb > len(stream):
                raise ValueError("JPEG2000: packet body overruns tile data")
            rec[4].append((seg, stream[pos:pos + nb]))
            pos += nb
    return pos


def _packet_order(cp: "_CodingParams", ncomp: int, nprec: list):
    """Yield (layer, res, comp, precinct) in the signalled progression
    (B.12).  `nprec[c][r]` is the precinct count of that resolution.
    The precinct loop is innermost for the layer-first orders; RPCL
    iterates precinct positions in raster order per resolution; the
    positional PCRL/CPRL orders reduce to loop permutations only with
    one precinct per resolution (multi-precinct positional progressions
    raise a named error)."""
    nres = cp.levels + 1

    def precs(c, r):
        return nprec[c][r] if r < len(nprec[c]) else 0

    if cp.prog == 0:      # LRCP
        for l in range(cp.layers):
            for r in range(nres):
                for c in range(ncomp):
                    for p in range(precs(c, r)):
                        yield l, r, c, p
    elif cp.prog == 1:    # RLCP
        for r in range(nres):
            for l in range(cp.layers):
                for c in range(ncomp):
                    for p in range(precs(c, r)):
                        yield l, r, c, p
    elif cp.prog == 2:    # RPCL
        for r in range(nres):
            for p in range(max((precs(c, r) for c in range(ncomp)),
                               default=0)):
                for c in range(ncomp):
                    if p < precs(c, r):
                        for l in range(cp.layers):
                            yield l, r, c, p
    else:                 # PCRL / CPRL (single position)
        if any(precs(c, r) > 1 for c in range(ncomp) for r in range(nres)):
            raise ValueError("JPEG2000: positional progression (PCRL/"
                             "CPRL) with multiple precincts is out of "
                             "scope")
        for c in range(ncomp):
            for r in range(nres):
                for l in range(cp.layers):
                    for p in range(precs(c, r)):
                        yield l, r, c, p


# ---------------------------------------------------------------------------
# Top-level decode
# ---------------------------------------------------------------------------


def _extract_codestream(data: bytes) -> bytes:
    """Walk JP2 boxes (ISO 15444-1 Annex I) to the jp2c payload."""
    pos = 0
    while pos + 8 <= len(data):
        lbox = struct.unpack(">I", data[pos:pos + 4])[0]
        tbox = data[pos + 4:pos + 8]
        hdr = 8
        if lbox == 1:
            if pos + 16 > len(data):
                break
            lbox = struct.unpack(">Q", data[pos + 8:pos + 16])[0]
            hdr = 16
        elif lbox == 0:
            lbox = len(data) - pos
        if lbox < hdr:
            raise ValueError("JPEG2000: malformed JP2 box length")
        if tbox == b"jp2c":
            return data[pos + hdr:pos + lbox]
        pos += lbox
    raise ValueError("JPEG2000: no jp2c codestream box in JP2 container")


def decode_j2k_components(data: bytes) -> list:
    """Decode a raw codestream -> list of (H, W) int32/float arrays, one
    per component, already DC-shifted back to unsigned range."""
    if data[:2] != b"\xff\x4f":
        raise ValueError("JPEG2000: missing SOC marker")
    pos = 2
    siz = None
    main_cod = main_qcd = None
    comp_cod: dict = {}
    comp_qcd: dict = {}
    tiles: dict = {}
    # ---- main header
    while pos + 4 <= len(data):
        marker, ln = struct.unpack(">HH", data[pos:pos + 4])
        if marker == _SOT:
            break
        body = data[pos + 4:pos + 2 + ln]
        pos += 2 + ln
        if marker == _SIZ:
            (_rsiz, xs, ys, xo, yo, xt, yt, xto, yto, csiz) = struct.unpack(
                ">HIIIIIIIIH", body[:36])
            if xo or yo or xto or yto:
                raise ValueError("JPEG2000: nonzero image/tile offsets are "
                                 "out of scope")
            comps = []
            for c in range(csiz):
                ssiz, xr, yr = body[36 + 3 * c:39 + 3 * c]
                if xr != 1 or yr != 1:
                    raise ValueError("JPEG2000: component subsampling is "
                                     "out of scope")
                comps.append(dict(depth=(ssiz & 0x7F) + 1,
                                  signed=bool(ssiz & 0x80)))
            if xs * ys > _MAX_PIXELS:
                raise ValueError("JPEG2000 image too large")
            if xt == 0 or yt == 0:
                raise ValueError("JPEG2000: zero tile size")
            siz = dict(xs=xs, ys=ys, xt=xt, yt=yt, comps=comps)
        elif marker == _COD:
            main_cod = _parse_cod(body)
        elif marker == _QCD:
            main_qcd = _parse_qcd(body)
        elif marker == _COC:
            nc = len(siz["comps"]) if siz else 0
            ci = body[0] if nc < 257 else struct.unpack(">H", body[:2])[0]
            off = 1 if nc < 257 else 2
            scoc = body[off]
            sp = body[off + 1:]
            levels = sp[0]
            if scoc & 0x01:
                pb = sp[5:5 + levels + 1]
                if len(pb) < levels + 1:
                    raise ValueError("JPEG2000: COC precinct sizes "
                                     "truncated")
                prec = [(b & 0xF, b >> 4) for b in pb]
            else:
                prec = [(15, 15)] * (levels + 1)
            comp_cod[ci] = dict(levels=levels, xcb=(sp[1] & 0xF) + 2,
                                ycb=(sp[2] & 0xF) + 2, cbstyle=sp[3],
                                transform=sp[4], prec=prec)
        elif marker == _QCC:
            nc = len(siz["comps"]) if siz else 0
            ci = body[0] if nc < 257 else struct.unpack(">H", body[:2])[0]
            off = 1 if nc < 257 else 2
            comp_qcd[ci] = _parse_qcd(body[off:])
        elif marker == _RGN:
            raise ValueError("JPEG2000: ROI (RGN) is out of scope")
        elif marker == _POC:
            raise ValueError("JPEG2000: progression-order change (POC) is "
                             "out of scope")
        elif marker in (_PPM, _PPT):
            raise ValueError("JPEG2000: packed packet headers (PPM/PPT) "
                             "are out of scope")
        elif marker in (_COM, _CRG, _TLM, _PLM, _PLT):
            pass
        elif 0xFF30 <= marker <= 0xFF3F:
            pass  # segment-less reserved markers
        else:
            pass  # unknown but length-bearing: skip
    if siz is None or main_cod is None or main_qcd is None:
        raise ValueError("JPEG2000: main header missing SIZ/COD/QCD")
    # ---- tile parts
    while pos + 4 <= len(data):
        marker = struct.unpack(">H", data[pos:pos + 2])[0]
        if marker == _EOC:
            break
        if marker != _SOT:
            raise ValueError("JPEG2000: expected SOT or EOC in tile stream")
        _lsot, isot, psot, _tpsot, _tnsot = struct.unpack(
            ">HHIBB", data[pos + 2:pos + 12])
        if psot and psot < 14:
            # Psot counts from the SOT marker itself; anything under the
            # SOT+SOD minimum would walk the tile-part loop backwards —
            # an infinite loop inside an executor task, worse than a crash
            raise ValueError("JPEG2000: tile-part length too small")
        end = pos + psot if psot else len(data) - 2
        q = pos + 12
        # tile-part header until SOD
        trec = tiles.setdefault(isot, dict(cod=None, qcd=None, parts=[]))
        while q + 4 <= len(data):
            m2, l2 = struct.unpack(">HH", data[q:q + 4])
            if m2 == _SOD:
                q += 2
                break
            body = data[q + 4:q + 2 + l2]
            if m2 == _COD:
                trec["cod"] = _parse_cod(body)
            elif m2 == _QCD:
                trec["qcd"] = _parse_qcd(body)
            elif m2 in (_PPM, _PPT):
                raise ValueError("JPEG2000: packed packet headers (PPM/PPT) "
                                 "are out of scope")
            q += 2 + l2
        trec["parts"].append(data[q:end])
        pos = end
    # ---- decode each tile
    ncomp = len(siz["comps"])
    ntx = _ceil_div(siz["xs"], siz["xt"])
    nty = _ceil_div(siz["ys"], siz["yt"])
    outs = [np.zeros((siz["ys"], siz["xs"]), np.float64)
            for _ in range(ncomp)]
    for t in range(ntx * nty):
        trec = tiles.get(t)
        if trec is None:
            continue  # missing tile: stays zero (background)
        cod = trec["cod"] or main_cod
        qcd = trec["qcd"] or main_qcd
        cp = _CodingParams(cod, qcd)
        tx, ty = t % ntx, t // ntx
        tx0, ty0 = tx * siz["xt"], ty * siz["yt"]
        tx1, ty1 = min(tx0 + siz["xt"], siz["xs"]), min(ty0 + siz["yt"], siz["ys"])
        tc = (tx0, ty0, tx1, ty1)
        # per-component band structures (COC/QCC overrides honored)
        comp_bands = []
        comp_cps = []
        for c in range(ncomp):
            ccp = _CodingParams(
                {**cod, **comp_cod.get(c, {})},
                comp_qcd.get(c, qcd))
            bands = []
            bands.append(_Band("LL", ccp.levels, _band_rect(tc, ccp.levels, "LL"),
                               ccp.xcb, ccp.ycb,
                               _prec_grid(tc, ccp.levels, 0, ccp.prec)))
            for r in range(1, ccp.levels + 1):
                lev = ccp.levels - r + 1
                pg = _prec_grid(tc, ccp.levels, r, ccp.prec)
                for bt in ("HL", "LH", "HH"):
                    bands.append(_Band(bt, lev, _band_rect(tc, lev, bt),
                                       ccp.xcb, ccp.ycb, pg))
            comp_bands.append(bands)
            comp_cps.append(ccp)
        nprec = []
        for c in range(ncomp):
            ccp = comp_cps[c]
            nprec.append([
                max(1, _prec_grid(tc, ccp.levels, r, ccp.prec)[2]
                    * _prec_grid(tc, ccp.levels, r, ccp.prec)[3])
                for r in range(ccp.levels + 1)])
        stream = b"".join(trec["parts"])
        spos = 0
        for layer, r, c, p in _packet_order(cp, ncomp, nprec):
            ccp = comp_cps[c]
            if r > ccp.levels:
                continue
            if r == 0:
                pb = [comp_bands[c][0]]
            else:
                pb = comp_bands[c][1 + 3 * (r - 1):4 + 3 * (r - 1)]
            spos = _decode_packet(stream, spos, pb, layer, ccp, p)
        # Tier-1 + dequant + synthesis per component
        for c in range(ncomp):
            ccp = comp_cps[c]
            depth = siz["comps"][c]["depth"]
            reversible = ccp.transform == 1
            coeffs = {}
            for bi, band in enumerate(comp_bands[c]):
                mb, delta = ccp.band_quant(bi, band.btype, band.lev, depth)
                arr = (np.zeros((band.h, band.w), np.int32) if reversible
                       else np.zeros((band.h, band.w), np.float64))
                for by in range(band.nby):
                    for bx in range(band.nbx):
                        rec = band.blocks[by * band.nbx + bx]
                        x0, y0, x1, y1 = band.block_rect(bx, by)
                        if x1 <= x0 or y1 <= y0:
                            continue
                        if not rec[0] or rec[3] == 0:
                            continue
                        # rec[4] holds (segment index, bytes) portions;
                        # portions of one codeword segment concatenate
                        # across layers
                        nsegs = max(si for si, _ in rec[4]) + 1
                        segs = [b"".join(bs for si, bs in rec[4]
                                         if si == sidx)
                                for sidx in range(nsegs)]
                        q = t1_decode(segs, rec[3], x1 - x0, y1 - y0,
                                      band.btype, rec[2], mb,
                                      segsym=bool(ccp.cbstyle & 0x20),
                                      termall=bool(ccp.cbstyle & 0x04),
                                      bypass=bool(ccp.cbstyle & 0x01),
                                      reset=bool(ccp.cbstyle & 0x02),
                                      causal=bool(ccp.cbstyle & 0x08))
                        ry, rx = y0 - band.rect[1], x0 - band.rect[0]
                        if reversible:
                            arr[ry:ry + y1 - y0, rx:rx + x1 - x0] = q
                        else:
                            arr[ry:ry + y1 - y0, rx:rx + x1 - x0] = (
                                q.astype(np.float64) * delta)
                coeffs[(band.btype, band.lev)] = arr
            img = _synthesize(coeffs, tc, ccp.levels, reversible)
            comp = siz["comps"][c]
            if not comp["signed"]:
                img = img + (1 << (depth - 1))
            outs[c][ty0:ty1, tx0:tx1] = img
        # inverse multi-component transform (B / G.2) on the tile
        if cp.mct and ncomp >= 3:
            y0_, y1_ = ty0, ty1
            x0_, x1_ = tx0, tx1
            a = outs[0][y0_:y1_, x0_:x1_]
            b = outs[1][y0_:y1_, x0_:x1_]
            cc = outs[2][y0_:y1_, x0_:x1_]
            if cp.transform == 1:  # RCT (lossless)
                d0 = 1 << (siz["comps"][0]["depth"] - 1)
                ya = np.floor(a) - d0
                ub = np.floor(b) - (1 << (siz["comps"][1]["depth"] - 1))
                vb = np.floor(cc) - (1 << (siz["comps"][2]["depth"] - 1))
                g = ya - np.floor((ub + vb) / 4)
                r_ = vb + g
                bl = ub + g
                outs[0][y0_:y1_, x0_:x1_] = r_ + d0
                outs[1][y0_:y1_, x0_:x1_] = g + d0
                outs[2][y0_:y1_, x0_:x1_] = bl + d0
            else:  # ICT
                d0 = 1 << (siz["comps"][0]["depth"] - 1)
                ya, ub, vb = a - d0, b - d0, cc - d0
                r_ = ya + 1.402 * vb
                g = ya - 0.344136 * ub - 0.714136 * vb
                bl = ya + 1.772 * ub
                outs[0][y0_:y1_, x0_:x1_] = r_ + d0
                outs[1][y0_:y1_, x0_:x1_] = g + d0
                outs[2][y0_:y1_, x0_:x1_] = bl + d0
    res = []
    for c in range(ncomp):
        depth = siz["comps"][c]["depth"]
        res.append(np.clip(np.rint(outs[c]), 0, (1 << depth) - 1))
    return res


def _synthesize(coeffs: dict, tc: tuple, levels: int, reversible: bool):
    """Inverse 2D DWT: interleave per level, then horizontal + vertical
    1D synthesis (F.3.4, order mirroring the forward's V-then-H)."""
    ll = coeffs[("LL", levels)]
    for lev in range(levels, 0, -1):
        u0, v0, u1, v1 = _band_rect(tc, lev - 1, "LL")
        w, h = u1 - u0, v1 - v0
        dt = np.int64 if reversible else np.float64
        y = np.zeros((h, w), dt)
        hl = coeffs[("HL", lev)]
        lh = coeffs[("LH", lev)]
        hh = coeffs[("HH", lev)]
        llx0, lly0 = _band_rect(tc, lev, "LL")[:2]
        hlx0, hly0 = _band_rect(tc, lev, "HL")[:2]
        lhx0, lhy0 = _band_rect(tc, lev, "LH")[:2]
        hhx0, hhy0 = _band_rect(tc, lev, "HH")[:2]
        # 2D_INTERLEAVE (F.3.6): low samples sit at even absolute coords
        ex0 = u0 if u0 % 2 == 0 else u0 + 1   # first even x
        ox0 = u0 if u0 % 2 == 1 else u0 + 1   # first odd x
        ey0 = v0 if v0 % 2 == 0 else v0 + 1
        oy0 = v0 if v0 % 2 == 1 else v0 + 1
        if ll.size:
            y[ey0 - v0::2, ex0 - u0::2] = ll[(ey0 // 2) - lly0:, (ex0 // 2) - llx0:]
        if hl.size:
            y[ey0 - v0::2, ox0 - u0::2] = hl[(ey0 // 2) - hly0:, (ox0 // 2) - hlx0:]
        if lh.size:
            y[oy0 - v0::2, ex0 - u0::2] = lh[(oy0 // 2) - lhy0:, (ex0 // 2) - lhx0:]
        if hh.size:
            y[oy0 - v0::2, ox0 - u0::2] = hh[(oy0 // 2) - hhy0:, (ox0 // 2) - hhx0:]
        f1d = inv53_1d if reversible else inv97_1d
        if w > 0:
            y = f1d(y, u0)                    # horizontal (rows)
        if h > 0:
            y = f1d(np.ascontiguousarray(y.T), v0).T  # vertical (columns)
        ll = y
    return ll


# ---------------------------------------------------------------------------
# Container + grayscale entry points (the codecs.py seam)
# ---------------------------------------------------------------------------


def decode_jp2(data: bytes) -> np.ndarray:
    """Any JPEG 2000 payload (JP2 container or raw codestream) -> uint8
    grayscale, BT.601 luma for RGB."""
    if data[:4] == b"\x00\x00\x00\x0c" and data[4:8] == b"jP  ":
        cs = _extract_codestream(data)
    elif data[:2] == b"\xff\x4f":
        cs = data
    else:
        raise ValueError("not a JPEG 2000 stream (no JP2 signature or SOC)")
    comps = decode_j2k_components(cs)
    if len(comps) >= 3:
        y = (0.299 * comps[0] + 0.587 * comps[1] + 0.114 * comps[2])
    else:
        y = comps[0]
    return np.clip(np.rint(y), 0, 255).astype(np.uint8)
