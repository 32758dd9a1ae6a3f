"""WebP lossless (VP8L) codec, from scratch against RFC 9649.

Reference contract: the reference ingests WEBP through Leptonica's
byte-stream sniff like every other raster (SetImage,
/root/reference/src/api/baseapi.cpp:881) — web-crawl media tables carry
WEBP at double-digit percentages, so the codec-dispatch seam
(functions/codecs.py) must read it. VP8L is a self-contained bitstream
(LSB-first bit packing, DEFLATE-style canonical prefix codes, LZ77 with a
2D distance map, four invertible transforms) — no DCT, so a from-scratch
implementation at the ccitt.py quality bar is feasible. Lossy VP8 decodes
through functions/vp8.py (RFC 6386 key frames); the extended VP8X
container is walked here (_decode_vp8x: ALPH alpha composite — raw or
lossless-compressed, all four filters — EXIF/XMP/ICCP skipped, animations
decode as their FIRST frame on the background canvas).

Decode support (RFC 9649 §3-§5):
  * all four transforms: predictor (14 modes, per-block sub-image), color
    (green_to_red/green_to_blue/red_to_blue 3.5-fixed deltas),
    subtract-green, color-indexing (delta-coded palette incl. pixel
    bundling for <=16 entries)
  * color cache (0x1e35a7bd multiplicative hash), meta prefix images,
    simple (1-2 symbol) and code-length-coded prefix codes with 16/17/18
    repeats and the optional max_symbol field
  * LZ77 backward references: length/distance prefix mapping, the 120-code
    2D neighborhood map + linear distances past it

The 2D distance map is GENERATED from its ordering rule (squared euclidean
distance ascending, ties broken by larger dy then positive dx — verified
to reproduce the spec's published table prefix) rather than transcribed,
the same guard philosophy as the T.4 tables' structural tests.

Mirror VP8L and ALPH writers: sparkstract/fixtures/encoders/webp.py.

In-sandbox caveat (stated honestly): no independent WEBP implementation
exists in this container, so cross-implementation parity is pinned by
hand-assembled bit-level vectors derived from the spec text (see
tests/test_webp.py) plus self-roundtrip fuzz — the same level of evidence
the CCITT family ships with.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from .bits import canonical_codes
from .raster import luma

# Per-worker decode-shape telemetry: which entropy-image path each main
# image took. "fast" is the bit-buffer loop; everything else falls back to
# the per-pixel generic loop, whose cost is ~6x — a hostile crawl segment
# full of meta-prefix/cache-heavy streams shows up HERE as a number instead
# of as an unexplained slowdown. Counters are per Python worker process;
# operators/multimodal.media_decode_report() aggregates them Spark-side.
SHAPE_COUNTS: Counter = Counter()
_LAST_SHAPE: list[str] = ["generic"]

# ---------------------------------------------------------------- bit I/O


class _LsbReader:
    """LSB-first bit reader (RFC 9649 §2: values are packed little-endian,
    the first bit read is the least-significant of a fixed-width field;
    prefix-code bits are read most-significant-first like DEFLATE)."""

    __slots__ = ("_data", "_nbits", "bit")

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._nbits = len(data) * 8
        self.bit = 0

    def read(self, n: int) -> int:
        b = self.bit
        if b + n > self._nbits:
            raise ValueError("VP8L stream truncated")
        self.bit = b + n
        lo = b >> 3
        hi = (b + n + 7) >> 3
        chunk = int.from_bytes(self._data[lo:hi], "little")
        return (chunk >> (b & 7)) & ((1 << n) - 1)

    def peek15(self) -> int:
        b = self.bit
        lo = b >> 3
        chunk = int.from_bytes(self._data[lo : lo + 4], "little")
        return (chunk >> (b & 7)) & 0x7FFF


# ------------------------------------------------------------ prefix codes

# §5.2.2: order in which code-length-code lengths are stored
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14,
              15)
_MAX_CODE_LEN = 15
# hard cap on meta-prefix code groups (each group = 5 prefix tables);
# libwebp's encoder clusters histograms to a few hundred groups, so 2048
# rejects only crafted streams — see the guard in _decode_entropy_image
_MAX_PREFIX_GROUPS = 2048


def _rev(code: int, n: int) -> int:
    r = 0
    for _ in range(n):
        r = (r << 1) | (code & 1)
        code >>= 1
    return r


class _Prefix:
    """Decoded prefix code: LUT on the next 15 stream bits -> (symbol,
    length), plus the 0-bit single-symbol degenerate form."""

    __slots__ = ("single", "table", "max_len", "mask")

    def __init__(self, lengths: list[int]) -> None:
        live = [(s, ln) for s, ln in enumerate(lengths) if ln > 0]
        if not live:
            raise ValueError("VP8L prefix code with no symbols")
        if len(live) == 1:
            self.single = live[0][0]
            self.table = None
            self.max_len = 0
            self.mask = 0
            return
        self.single = None
        if max(ln for _, ln in live) > _MAX_CODE_LEN:
            raise ValueError("VP8L code length exceeds 15")
        self.max_len = max(ln for _, ln in live)
        # Kraft check — an over-subscribed code is a corrupt stream
        kraft = sum(1 << (self.max_len - ln) for _, ln in live)
        if kraft > (1 << self.max_len):
            raise ValueError("VP8L over-subscribed prefix code")
        # LUT sized to this code's max_len (not a fixed 1 << 15): a
        # hostile stream declaring thousands of code groups can no longer
        # force a 32768-entry fill per code — cost is 2^max_len, which the
        # Kraft check above already bounds to the code's true footprint.
        size = 1 << self.max_len
        self.mask = size - 1
        table = [None] * size
        codes = canonical_codes([ln for _, ln in live])
        for (sym, ln), (c, _) in zip(live, codes):
            r = _rev(c, ln)
            step = 1 << ln
            for f in range(r, size, step):
                table[f] = (sym, ln)
        self.table = table

    def read(self, br: _LsbReader) -> int:
        if self.single is not None:
            return self.single
        ent = self.table[br.peek15() & self.mask]
        if ent is None:
            raise ValueError("VP8L invalid prefix code word")
        sym, ln = ent
        if br.bit + ln > br._nbits:
            raise ValueError("VP8L stream truncated in prefix code")
        br.bit += ln
        return sym


def _read_prefix_code(br: _LsbReader, alphabet: int) -> _Prefix:
    """§5.2.1/§5.2.2: simple (1-2 symbols) or code-length-coded."""
    if br.read(1):  # simple
        num = br.read(1) + 1
        if br.read(1):  # first symbol is 8 bits
            s0 = br.read(8)
        else:
            s0 = br.read(1)
        lengths = [0] * alphabet
        if num == 1:
            if s0 >= alphabet:
                raise ValueError("VP8L simple code symbol out of range")
            lengths[s0] = 1
            return _Prefix(lengths)
        s1 = br.read(8)
        if s0 >= alphabet or s1 >= alphabet or s0 == s1:
            raise ValueError("VP8L simple code symbols invalid")
        lengths[s0] = lengths[s1] = 1
        return _Prefix(lengths)
    # code-length-coded
    n_clc = 4 + br.read(4)
    clc_lengths = [0] * 19
    for i in range(n_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _Prefix(clc_lengths)
    if br.read(1):  # optional symbol-count limit
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev_len = 8
    i = 0
    while i < alphabet:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        sym = clc.read(br)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev_len = sym
        elif sym == 16:
            for _ in range(3 + br.read(2)):
                if i < alphabet:
                    lengths[i] = prev_len
                    i += 1
        elif sym == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    return _Prefix(lengths)


# --------------------------------------------------------- distance map

def _build_dist_map() -> list[tuple[int, int]]:
    """§4.2.2: the 120 closest (dx, dy) neighbors, ordered by squared
    euclidean distance, ties by larger dy then positive-dx-first —
    generated from the rule.  The plane-code encoding (dy = code >> 4
    with dy < 8, dx = 8 - (code & 0xF)) bounds the neighborhood to
    dy 0..7, dx -7..8 — exactly 120 candidates, so the generated list
    reproduces libwebp's kCodeToPlaneCodes in full (pinned entry-by-
    entry in tests/test_webp.py against the published table)."""
    cand = [(dx, dy) for dy in range(0, 8) for dx in range(-7, 9)
            if dy > 0 or dx > 0]
    cand.sort(key=lambda p: (p[0] ** 2 + p[1] ** 2, -p[1],
                             0 if p[0] > 0 else 1, abs(p[0])))
    return cand[:120]


_DIST_MAP = _build_dist_map()

# test hook: tests/test_webp.py flips this off to pin the fast loop
# bit-exact against the generic per-pixel path on identical streams
_FAST = True


def _lz77_value(code: int, br: _LsbReader) -> int:
    """§4.2.1 prefix-coded LZ77 lengths/distances."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


# ------------------------------------------------------------ image decode


def _decode_entropy_image(br: _LsbReader, w: int, h: int,
                          is_main: bool) -> np.ndarray:
    """One spatially-coded ARGB image (§5.2.3) as an (h, w, 4) uint8 array
    in [a, r, g, b] channel order. Sub-resolution images (transform data,
    palettes, meta images) never carry meta prefix codes."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("VP8L color-cache bits out of range")
    meta = None
    meta_bits = 0
    n_groups = 1
    if is_main and br.read(1):
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_img = _decode_entropy_image(br, mw, mh, False)
        meta = (meta_img[:, :, 1].astype(np.int64) << 8) \
            | meta_img[:, :, 2].astype(np.int64)
        n_groups = int(meta.max()) + 1
        # guard BEFORE allocating (same discipline as the pixel-count
        # gate below): a crafted meta image can demand up to 65536 code
        # groups (5 prefix tables each) from a ~100 KB file — an
        # executor-hanging DoS on the untrusted crawl-media path.  The
        # group id space can't meaningfully exceed the meta pixel count,
        # and real encoders cluster histograms to a few hundred groups.
        if n_groups > min(mw * mh, _MAX_PREFIX_GROUPS):
            raise ValueError(
                f"VP8L prefix-group count {n_groups} exceeds guard "
                f"(meta {mw}x{mh}, cap {_MAX_PREFIX_GROUPS})")
    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append((
            _read_prefix_code(br, green_alpha),
            _read_prefix_code(br, 256),      # red
            _read_prefix_code(br, 256),      # blue
            _read_prefix_code(br, 256),      # alpha
            _read_prefix_code(br, 40),       # distance
        ))
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0
    n = w * h
    if n > (1 << 26):
        raise ValueError("VP8L image too large")  # guard BEFORE allocating
    if is_main:  # decode-shape telemetry (see SHAPE_COUNTS)
        parts = (["meta"] if meta is not None else []) \
            + (["cache"] if cache is not None else [])
        _LAST_SHAPE[0] = "+".join(parts) if parts else "generic"
    out = np.zeros(n, dtype=np.uint32)
    pos = 0
    if _FAST and meta is None and cache is None:
        g_code, r_code, b_code, a_code, d_code = groups[0]
        if (r_code.single is not None and b_code.single is not None
                and a_code.single is not None):
            # the dominant shape (and the whole gray-page fixture family):
            # one code group, no cache, constant aux channels — decode in
            # the bit-buffer fast loop (~6x the generic per-pixel path)
            if is_main:
                _LAST_SHAPE[0] = "fast"
            _decode_fast(br, g_code, d_code, out, n, w,
                         (a_code.single << 24) | (r_code.single << 16)
                         | b_code.single)
            img = out.reshape(h, w)
            return np.stack([(img >> 24) & 0xFF, (img >> 16) & 0xFF,
                             (img >> 8) & 0xFF, img & 0xFF],
                            axis=2).astype(np.uint8)
    while pos < n:
        if meta is not None:
            y, x = divmod(pos, w)
            g_code, r_code, b_code, a_code, d_code = \
                groups[int(meta[y >> meta_bits, x >> meta_bits])]
        else:
            g_code, r_code, b_code, a_code, d_code = groups[0]
        s = g_code.read(br)
        if s < 256:
            r = r_code.read(br)
            b = b_code.read(br)
            a = a_code.read(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            pos += 1
            if cache is not None:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> cache_shift] = px
        elif s < 280:
            length = _lz77_value(s - 256, br)
            dcode = _lz77_value(d_code.read(br), br)
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("VP8L backward reference out of range")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                pos += 1
                if cache is not None:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                          >> cache_shift] = px
        else:
            if cache is None:
                raise ValueError("VP8L cache symbol without a color cache")
            out[pos] = cache[s - 280]
            pos += 1
    img = out.reshape(h, w)
    return np.stack([(img >> 24) & 0xFF, (img >> 16) & 0xFF,
                     (img >> 8) & 0xFF, img & 0xFF],
                    axis=2).astype(np.uint8)


def _decode_fast(br: _LsbReader, g_code: _Prefix, d_code: _Prefix,
                 out: np.ndarray, n: int, w: int, base: int) -> None:
    """Hot literal/backref loop for the single-group, no-cache, constant-
    aux-channel stream shape: a rolling 64-bit window replaces the reader's
    per-call slicing, the green table is a local, and the pixel word is
    `base | green << 8`. Bit-exact with the generic loop (same tables,
    same LZ77 semantics) — pinned by the roundtrip + hand-vector tests."""
    data = br._data
    ld = len(data)
    def seed(bitpos):
        i = bitpos >> 3
        if i < ld:
            return i + 1, data[i] >> (bitpos & 7), 8 - (bitpos & 7)
        return i, 0, 0      # at end-of-data: NO phantom zero bits

    idx, acc, nbits = seed(br.bit)
    table = g_code.table
    g_mask = g_code.mask
    g_single = g_code.single
    buf = out  # numpy uint32 vector; scalar stores are cheap
    pos = 0
    if g_single is not None and g_single < 256:
        buf[:n] = base | (g_single << 8)
        # no bits consumed (0-bit code); reader position unchanged
        return
    while pos < n:
        while nbits < 15 and idx < ld:
            acc |= data[idx] << nbits
            idx += 1
            nbits += 8
        if g_single is not None:
            s = g_single
        else:
            ent = table[acc & g_mask]
            if ent is None:
                raise ValueError("VP8L invalid prefix code word")
            s, ln = ent
            if ln > nbits:
                raise ValueError("VP8L stream truncated in prefix code")
            acc >>= ln
            nbits -= ln
        if s < 256:
            buf[pos] = base | (s << 8)
            pos += 1
            continue
        if s >= 280:
            raise ValueError("VP8L cache symbol without a color cache")
        # LZ77 backref: sync the reader, reuse the shared value/dist
        # helpers, then resume the window
        br.bit = idx * 8 - nbits
        length = _lz77_value(s - 256, br)
        dcode = _lz77_value(d_code.read(br), br)
        if dcode > 120:
            dist = dcode - 120
        else:
            dx, dy = _DIST_MAP[dcode - 1]
            dist = dy * w + dx
            if dist < 1:
                dist = 1
        if dist > pos or pos + length > n:
            raise ValueError("VP8L backward reference out of range")
        if dist >= length:   # non-overlapping: one vector copy
            buf[pos:pos + length] = buf[pos - dist:pos - dist + length]
            pos += length
        else:                # overlapping run (repeats) copies pixel-wise
            for _ in range(length):
                buf[pos] = buf[pos - dist]
                pos += 1
        idx, acc, nbits = seed(br.bit)
    br.bit = idx * 8 - nbits


# ------------------------------------------------------- inverse transforms


def _inv_predictor(argb: np.ndarray, modes: np.ndarray,
                   size_bits: int) -> np.ndarray:
    """§4.1.1 predictor transform inverse: the prediction (from already
    reconstructed neighbors) is ADDED mod 256. Row 0 uses L, column 0
    uses T, pixel (0,0) the opaque-black seed; TR at the last column
    wraps to the current row's first pixel (linear addressing).

    The reconstruction is inherently sequential (every pixel needs its
    already-reconstructed neighbors), so the hot loop runs on plain
    python ints over row lists — ~20x the per-pixel-numpy reference
    implementation below, which is kept as the fuzz-pinned semantic
    ground truth (tests/test_webp.py decodes random mode grids through
    both). Real libwebp-lossless files use this transform almost always,
    so this IS the crawl-media hot path."""
    h, w, _ = argb.shape
    out = argb.astype(np.int64)
    size = size_bits
    prev: list | None = None
    for y in range(h):
        row = out[y].tolist()
        if y == 0:
            c = row[0]
            c[0] = (c[0] + 255) & 0xFF
            for x in range(1, w):
                c, lf = row[x], row[x - 1]
                c[0] = (c[0] + lf[0]) & 0xFF
                c[1] = (c[1] + lf[1]) & 0xFF
                c[2] = (c[2] + lf[2]) & 0xFF
                c[3] = (c[3] + lf[3]) & 0xFF
        else:
            pr = prev
            c, tp = row[0], pr[0]
            c[0] = (c[0] + tp[0]) & 0xFF
            c[1] = (c[1] + tp[1]) & 0xFF
            c[2] = (c[2] + tp[2]) & 0xFF
            c[3] = (c[3] + tp[3]) & 0xFF
            mlist = modes[y >> size].tolist()
            for x in range(1, w):
                mode = mlist[x >> size]
                c = row[x]
                lf = row[x - 1]
                tp = pr[x]
                if mode == 1:
                    pd = lf
                elif mode == 2:
                    pd = tp
                elif mode == 0:
                    pd = (255, 0, 0, 0)
                else:
                    tl = pr[x - 1]
                    tr = pr[x + 1] if x + 1 < w else row[0]
                    if mode == 3:
                        pd = tr
                    elif mode == 4:
                        pd = tl
                    elif mode == 5:
                        pd = (((lf[0] + tr[0]) // 2 + tp[0]) // 2,
                              ((lf[1] + tr[1]) // 2 + tp[1]) // 2,
                              ((lf[2] + tr[2]) // 2 + tp[2]) // 2,
                              ((lf[3] + tr[3]) // 2 + tp[3]) // 2)
                    elif mode == 6:
                        pd = ((lf[0] + tl[0]) // 2, (lf[1] + tl[1]) // 2,
                              (lf[2] + tl[2]) // 2, (lf[3] + tl[3]) // 2)
                    elif mode == 7:
                        pd = ((lf[0] + tp[0]) // 2, (lf[1] + tp[1]) // 2,
                              (lf[2] + tp[2]) // 2, (lf[3] + tp[3]) // 2)
                    elif mode == 8:
                        pd = ((tl[0] + tp[0]) // 2, (tl[1] + tp[1]) // 2,
                              (tl[2] + tp[2]) // 2, (tl[3] + tp[3]) // 2)
                    elif mode == 9:
                        pd = ((tp[0] + tr[0]) // 2, (tp[1] + tr[1]) // 2,
                              (tp[2] + tr[2]) // 2, (tp[3] + tr[3]) // 2)
                    elif mode == 10:
                        pd = (((lf[0] + tl[0]) // 2 + (tp[0] + tr[0]) // 2)
                              // 2,
                              ((lf[1] + tl[1]) // 2 + (tp[1] + tr[1]) // 2)
                              // 2,
                              ((lf[2] + tl[2]) // 2 + (tp[2] + tr[2]) // 2)
                              // 2,
                              ((lf[3] + tl[3]) // 2 + (tp[3] + tr[3]) // 2)
                              // 2)
                    elif mode == 11:
                        # |p-L| == |T-TL| and |p-T| == |L-TL| channel-wise
                        # (p = L+T-TL), so Select reduces to these sums
                        s_l = (abs(tp[0] - tl[0]) + abs(tp[1] - tl[1])
                               + abs(tp[2] - tl[2]) + abs(tp[3] - tl[3]))
                        s_t = (abs(lf[0] - tl[0]) + abs(lf[1] - tl[1])
                               + abs(lf[2] - tl[2]) + abs(lf[3] - tl[3]))
                        pd = lf if s_l < s_t else tp
                    elif mode == 12:
                        pd = tuple(
                            0 if v < 0 else (255 if v > 255 else v)
                            for v in (lf[0] + tp[0] - tl[0],
                                      lf[1] + tp[1] - tl[1],
                                      lf[2] + tp[2] - tl[2],
                                      lf[3] + tp[3] - tl[3]))
                    else:  # 13 ClampAddSubtractHalf, C trunc-toward-zero
                        pd4 = []
                        for k in range(4):
                            a2 = (lf[k] + tp[k]) // 2
                            d = a2 - tl[k]
                            half = d // 2 if d >= 0 else -((-d) // 2)
                            v = a2 + half
                            pd4.append(0 if v < 0 else
                                       (255 if v > 255 else v))
                        pd = pd4
                c[0] = (c[0] + pd[0]) & 0xFF
                c[1] = (c[1] + pd[1]) & 0xFF
                c[2] = (c[2] + pd[2]) & 0xFF
                c[3] = (c[3] + pd[3]) & 0xFF
        out[y] = row
        prev = row
    return out.astype(np.uint8)


def _inv_color_transform(argb: np.ndarray, data: np.ndarray,
                         size_bits: int) -> np.ndarray:
    """§4.1.2 color transform inverse: per-block signed 3.5-fixed cross
    deltas ADDED back (green_to_red in red channel, green_to_blue and
    red_to_blue in blue)."""
    h, w, _ = argb.shape
    ys = np.arange(h) >> size_bits
    xs = np.arange(w) >> size_bits
    blk = data[ys][:, xs]            # (h, w, 4) transform element per px
    # §4.1.2 / libwebp ColorTransformDelta: the element pixel stores
    # green_to_red in its BLUE byte (bits 0-7), green_to_blue in GREEN
    # (8-15), red_to_blue in RED (16-23); channel order here is [a,r,g,b]
    g2r = blk[:, :, 3].astype(np.int8).astype(np.int64)   # blue channel
    g2b = blk[:, :, 2].astype(np.int8).astype(np.int64)   # green channel
    r2b = blk[:, :, 1].astype(np.int8).astype(np.int64)   # red channel
    def s8(v):  # reinterpret the low byte as signed 8-bit (§4.1.2)
        return ((v & 0xFF) ^ 0x80) - 0x80

    out = argb.astype(np.int64)
    gs = s8(out[:, :, 2])
    out[:, :, 1] = (out[:, :, 1] + ((g2r * gs) >> 5)) & 0xFF
    r = s8(out[:, :, 1])
    out[:, :, 3] = (out[:, :, 3] + ((g2b * gs) >> 5)
                    + ((r2b * r) >> 5)) & 0xFF
    return out.astype(np.uint8)


def _inv_subtract_green(argb: np.ndarray) -> np.ndarray:
    out = argb.astype(np.int64)
    out[:, :, 1] = (out[:, :, 1] + out[:, :, 2]) & 0xFF  # r += g
    out[:, :, 3] = (out[:, :, 3] + out[:, :, 2]) & 0xFF  # b += g
    return out.astype(np.uint8)


def _inv_color_index(argb: np.ndarray, palette: np.ndarray,
                     width: int) -> np.ndarray:
    """§4.1.3 color indexing inverse incl. pixel bundling."""
    n_colors = palette.shape[0]
    if n_colors <= 2:
        wbits = 3
    elif n_colors <= 4:
        wbits = 2
    elif n_colors <= 16:
        wbits = 1
    else:
        wbits = 0
    idx = argb[:, :, 2].astype(np.int64)  # indices ride the green channel
    if wbits:
        per = 1 << wbits
        bits = 8 >> wbits
        parts = [(idx >> (i * bits)) & ((1 << bits) - 1)
                 for i in range(per)]
        idx = np.stack(parts, axis=2).reshape(idx.shape[0], -1)[:, :width]
    # §4.1.3: an index >= color_table_size decodes as 0x00000000
    # (transparent black), not an error
    oob = idx >= n_colors
    safe = np.where(oob, 0, idx)
    out = palette[safe]
    if oob.any():
        out = out.copy()
        out[oob] = 0
    return out


# ---------------------------------------------------------------- decode


def decode_vp8l(payload: bytes) -> np.ndarray:
    """VP8L chunk payload -> (h, w, 4) uint8 ARGB (channel order
    [a, r, g, b])."""
    br = _LsbReader(payload)
    if br.read(8) != 0x2F:
        raise ValueError("VP8L bad signature")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("VP8L unsupported version")
    return _decode_vp8l_stream(br, w, h, count_shape=True)


def _decode_vp8l_stream(br: _LsbReader, w: int, h: int,
                        count_shape: bool = False) -> np.ndarray:
    """The headerless part of a VP8L stream (transform loop onward) for
    known dimensions — shared between full VP8L chunks and ALPH alpha
    planes, which the container spec defines as exactly this stream with
    implicit w x h. `count_shape` gates the decode-shape telemetry so
    alpha sub-streams don't displace the main image's shape key."""
    transforms: list[tuple] = []
    seen: set[int] = set()
    xsize = w  # color-indexing bundling shrinks the coded width
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("VP8L duplicate transform")
        seen.add(ttype)
        if ttype == 0:        # predictor
            size_bits = br.read(3) + 2
            bw = (xsize + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            sub = _decode_entropy_image(br, bw, bh, False)
            transforms.append(("predictor", sub[:, :, 2], size_bits))
        elif ttype == 1:      # color transform
            size_bits = br.read(3) + 2
            bw = (xsize + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            sub = _decode_entropy_image(br, bw, bh, False)
            transforms.append(("color", sub, size_bits))
        elif ttype == 2:      # subtract green
            transforms.append(("subtract_green",))
        else:                 # color indexing
            n_colors = br.read(8) + 1
            pal_img = _decode_entropy_image(br, n_colors, 1, False)
            # palette entries are delta-coded component-wise (§4.1.3)
            pal = np.cumsum(pal_img[0].astype(np.int64), axis=0) & 0xFF
            transforms.append(("palette", pal.astype(np.uint8), xsize))
            if n_colors <= 2:
                xsize = (xsize + 7) >> 3
            elif n_colors <= 4:
                xsize = (xsize + 3) >> 2
            elif n_colors <= 16:
                xsize = (xsize + 1) >> 1
    argb = _decode_entropy_image(br, xsize, h, True)
    if count_shape:
        SHAPE_COUNTS[_LAST_SHAPE[0]] += 1
    for t in reversed(transforms):
        if t[0] == "predictor":
            argb = _inv_predictor(argb, t[1], t[2])
        elif t[0] == "color":
            argb = _inv_color_transform(argb, t[1], t[2])
        elif t[0] == "subtract_green":
            argb = _inv_subtract_green(argb)
        else:
            argb = _inv_color_index(argb, t[1], t[2])
    if argb.shape[:2] != (h, w):
        raise ValueError("VP8L decoded size mismatch")
    return argb


# ---------------------------------------------------------------- alpha

# Container-spec ALPH chunk: header byte = pre-processing (bits 4-5,
# encoder hint — no decode action) | filtering method (bits 2-3) |
# compression method (bits 0-1).  Compression 1 is a HEADERLESS VP8L
# stream of implicit w x h whose green channel carries the alpha values;
# filters predict each value from decoded neighbors in scan order with
# the first row falling back to left-prediction, the first column to
# above-prediction and (0, 0) to 0 (libwebp filters.c semantics, which
# the container spec text describes).


def _inv_alpha_filter(delta: np.ndarray, method: int) -> np.ndarray:
    """Undo alpha filtering in scan order: value = (pred + delta) & 0xFF.
    Horizontal/vertical are running sums (vectorized cumsum with the
    seeded first column/row); gradient's clip(left + above - topleft)
    predictor is a true scan-order recurrence, so its interior runs a
    per-row loop — alpha planes are page-sized, and the fixture mirror
    pins this inverse against the vectorized forward filter."""
    if method == 0:
        return delta
    d = delta.astype(np.int64)
    h, w = d.shape
    if method == 1:      # horizontal; leftmost column predicts from above
        d[:, 0] = np.cumsum(d[:, 0])
        return (np.cumsum(d, axis=1) & 0xFF).astype(np.uint8)
    if method == 2:      # vertical; top row predicts from the left
        d[0, :] = np.cumsum(d[0, :])
        return (np.cumsum(d, axis=0) & 0xFF).astype(np.uint8)
    if method != 3:
        raise ValueError(f"WEBP alpha filter {method}: unknown")
    out = np.zeros((h, w), np.int64)
    out[0, :] = np.cumsum(d[0, :]) & 0xFF   # top row: horizontal fallback
    out[:, 0] = np.cumsum(d[:, 0]) & 0xFF   # left col: vertical fallback
    for y in range(1, h):
        row = out[y]
        up = out[y - 1]
        dr = d[y]
        left = int(row[0])
        for x in range(1, w):
            pred = left + int(up[x]) - int(up[x - 1])
            if pred < 0:
                pred = 0
            elif pred > 255:
                pred = 255
            left = (pred + int(dr[x])) & 0xFF
            row[x] = left
    return out.astype(np.uint8)


def _decode_alpha(body: bytes, w: int, h: int) -> np.ndarray:
    """ALPH chunk body -> (h, w) uint8 alpha plane (raw or
    lossless-compressed, any of the four filters)."""
    if not body:
        raise ValueError("ALPH chunk empty")
    method = body[0] & 0x03
    filt = (body[0] >> 2) & 0x03
    if method == 0:
        px = np.frombuffer(body, np.uint8, offset=1)
        if px.size < w * h:
            raise ValueError("ALPH chunk short")
        plane = px[:w * h].reshape(h, w).copy()
    elif method == 1:
        argb = _decode_vp8l_stream(_LsbReader(body[1:]), w, h)
        plane = argb[:, :, 2].copy()
    else:
        raise ValueError(f"WEBP alpha compression {method}: out of scope "
                         "(0 raw and 1 lossless supported)")
    return _inv_alpha_filter(plane, filt)


def decode_webp(data: bytes) -> np.ndarray:
    """WEBP container bytes -> HxW uint8 gray (BT.601 luma collapse for
    color, like every other decoder in the family)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WEBP file")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"VP8L":
            argb = decode_vp8l(body)
            a, r, g, b = (argb[:, :, i].astype(np.int32) for i in range(4))
            if ((r == g) & (g == b)).all():
                return g.astype(np.uint8)
            return luma(r, g, b)
        if tag == b"VP8 ":
            from .vp8 import decode_vp8

            SHAPE_COUNTS["vp8-lossy"] += 1
            return decode_vp8(body)
        if tag == b"VP8X":
            return _decode_vp8x(data[pos + 8 + size + (size & 1):], body)
        pos += 8 + size + (size & 1)
    raise ValueError("WEBP container has no image chunk")


def _frame_from_chunks(rest: bytes, w: int, h: int
                       ) -> tuple[np.ndarray | None, np.ndarray | None]:
    """Walk ALPH/VP8 /VP8L chunks of one frame -> (gray, alpha); other
    chunk tags are skipped. `w`/`h` bound the ALPH plane."""
    alpha: np.ndarray | None = None
    gray: np.ndarray | None = None
    pos = 0
    while pos + 8 <= len(rest):
        tag = rest[pos:pos + 4]
        size = int.from_bytes(rest[pos + 4:pos + 8], "little")
        body = rest[pos + 8:pos + 8 + size]
        if tag == b"ALPH":
            alpha = _decode_alpha(body, w, h)
        elif tag == b"VP8 ":
            from .vp8 import decode_vp8

            SHAPE_COUNTS["vp8-lossy"] += 1
            gray = decode_vp8(body)
        elif tag == b"VP8L":
            argb = decode_vp8l(body)
            a, r, g, b = (argb[:, :, i].astype(np.int32) for i in range(4))
            if ((r == g) & (g == b)).all():
                gray = g.astype(np.uint8)
            else:
                gray = luma(r, g, b)
        # ICCP / EXIF / XMP / unknown chunks: skipped
        pos += 8 + size + (size & 1)
    return gray, alpha


def _decode_vp8x(rest: bytes, header: bytes) -> np.ndarray:
    """Extended (VP8X) container: canvas header, then feature chunks.
    ICCP/EXIF/XMP are skipped; an ALPH chunk (raw or lossless-compressed,
    any filter) composites onto white. Animations (ANIM/
    ANMF) decode as their FIRST frame composited at its offset on the
    background-color canvas — the page-analysis still, matching how the
    reference's single-page SetImage treats an animated input (Leptonica
    reads frame 1); later frames are skipped, not errors."""
    if len(header) < 10:
        raise ValueError("VP8X header truncated")
    w = int.from_bytes(header[4:7], "little") + 1
    h = int.from_bytes(header[7:10], "little") + 1
    anim_bg = 255                     # composited page background
    frame = None                      # (gray, alpha, fx, fy)
    pos = 0
    while pos + 8 <= len(rest):
        tag = rest[pos:pos + 4]
        size = int.from_bytes(rest[pos + 4:pos + 8], "little")
        body = rest[pos + 8:pos + 8 + size]
        if tag == b"ANIM":
            if len(body) < 6:
                raise ValueError("ANIM chunk truncated")
            bb, gg, rr, aa = body[0], body[1], body[2], body[3]  # BGRA
            y = int(luma(rr, gg, bb))
            anim_bg = (y * aa + 255 * (255 - aa) + 127) // 255
        elif tag == b"ANMF":
            if frame is None:         # first frame = the still
                if len(body) < 16:
                    raise ValueError("ANMF chunk truncated")
                fx = int.from_bytes(body[0:3], "little") * 2
                fy = int.from_bytes(body[3:6], "little") * 2
                fw = int.from_bytes(body[6:9], "little") + 1
                fh = int.from_bytes(body[9:12], "little") + 1
                g, a = _frame_from_chunks(body[16:], fw, fh)
                if g is None:
                    raise ValueError("ANMF frame has no image chunk")
                if g.shape != (fh, fw):
                    raise ValueError("ANMF frame size mismatch")
                if fx + fw > w or fy + fh > h:
                    raise ValueError("ANMF frame outside canvas")
                frame = (g, a, fx, fy)
            # later frames skipped: first-frame still semantics
        pos += 8 + size + (size & 1)
    if frame is not None:
        g, a, fx, fy = frame
        canvas = np.full((h, w), anim_bg, np.uint8)
        if a is not None:
            g32 = g.astype(np.int64)
            a32 = a.astype(np.int64)
            g = ((g32 * a32 + int(anim_bg) * (255 - a32) + 127) // 255
                 ).astype(np.uint8)
        canvas[fy:fy + g.shape[0], fx:fx + g.shape[1]] = g
        return canvas
    gray, alpha = _frame_from_chunks(rest, w, h)
    if gray is None:
        raise ValueError("VP8X container has no image chunk")
    if gray.shape != (h, w):
        raise ValueError("VP8X canvas/frame size mismatch")
    if alpha is not None:  # composite onto white, the page background
        g32 = gray.astype(np.int64)
        a32 = alpha.astype(np.int64)
        gray = ((g32 * a32 + 255 * (255 - a32) + 127) // 255
                ).astype(np.uint8)
    return gray
