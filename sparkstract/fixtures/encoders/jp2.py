"""JPEG 2000 mirror encoder (fixture side) for functions/jp2.py.

Emits a minimal-but-conformant Part-1 codestream: single quality layer,
maximal precincts, one tile-part per tile, all coding passes in one
codeword segment per block.  The tests and fixtures use it to carry
genuine JPEG 2000 bytes; the decoder is the product surface.
"""

from __future__ import annotations

import struct

import numpy as np

from ...functions.jp2 import (
    _A97, _B97, _Band, _COD, _COM, _CX_RL, _CX_UNI, _CodingParams, _D97, _EOC,
    _EPH, _G97, _GAIN, _K97, _NLPS, _NMPS, _QCD, _QE, _SC_F, _SIZ, _SOC, _SOD,
    _SOP, _SOT, _SWITCH, _ZC_HH_F, _ZC_LH_F, _band_rect, _ceil_div, _extend,
    _packet_order, _parse_qcd, _pass_is_raw, _prec_grid, _reflect,
    _seg_of_pass, new_contexts,
)


class MQEncoder:
    """Annex C.2 encoder producing one terminated segment."""

    __slots__ = ("a", "c", "ct", "b", "out")

    def __init__(self) -> None:
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        self.b = -1          # index of the byte open for carry (none yet)
        self.out = bytearray()

    def _byteout(self) -> None:
        out, b = self.out, self.b
        if b >= 0 and out[b] == 0xFF:
            # stuffing after FF: 7 data bits, but a pending carry rides in
            # as the byte's top bit (FF may be followed by up to 0x8F)
            self.b = len(out)
            out.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        else:
            if self.c < 0x8000000:
                self.b = len(out)
                out.append((self.c >> 19) & 0xFF)
                self.c &= 0x7FFFF
                self.ct = 8
            else:
                # carry propagates into the open byte
                if b >= 0:
                    out[b] += 1
                if b >= 0 and out[b] == 0xFF:
                    self.c &= 0x7FFFFFF
                    self.b = len(out)
                    out.append((self.c >> 20) & 0x7F)
                    self.c &= 0xFFFFF
                    self.ct = 7
                else:
                    self.b = len(out)
                    out.append((self.c >> 19) & 0xFF)
                    self.c &= 0x7FFFF
                    self.ct = 8

    def encode(self, d: int, cx: list) -> None:
        i, mps = cx
        qe = _QE[i]
        if d == mps:                       # CODEMPS
            self.a -= qe
            if self.a & 0x8000:
                self.c += qe
                return
            if self.a < qe:
                self.a = qe
            else:
                self.c += qe
            cx[0] = _NMPS[i]
        else:                              # CODELPS
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            if _SWITCH[i]:
                cx[1] = 1 - mps
            cx[0] = _NLPS[i]
        while True:                        # RENORME
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def flush(self) -> bytes:
        # SETBITS + two byteouts (C.2.9), then strip trailing 0xFF per
        # the lazy-termination allowance (decoder feeds 1s past the end).
        # SETBITS maximizes trailing 1 bits while staying inside the
        # final interval [C, C+A)
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        out = self.out
        while out and out[-1] == 0xFF:
            out.pop()
        return bytes(out)


class _HdrWriter:
    __slots__ = ("out", "buf", "n", "prev_ff")

    def __init__(self) -> None:
        self.out = bytearray()
        self.buf = 0
        self.n = 0
        self.prev_ff = False

    def bit(self, v: int) -> None:
        self.buf = (self.buf << 1) | (v & 1)
        self.n += 1
        limit = 7 if self.prev_ff else 8
        if self.n == limit:
            self.out.append(self.buf)
            self.prev_ff = self.buf == 0xFF
            self.buf = 0
            self.n = 0

    def bits(self, v: int, k: int) -> None:
        for i in range(k - 1, -1, -1):
            self.bit((v >> i) & 1)

    def flush(self) -> bytes:
        if self.n:
            limit = 7 if self.prev_ff else 8
            self.buf <<= limit - self.n
            self.out.append(self.buf)
            self.prev_ff = self.buf == 0xFF
        if self.prev_ff:
            self.out.append(0x00)  # mandatory stuffing byte after FF
        self.buf = 0
        self.n = 0
        self.prev_ff = False
        return bytes(self.out)


class _RawW:
    """Mirror raw-segment writer: after emitting 0xFF the next byte
    carries 7 data bits under a stuffed 0 top bit."""

    __slots__ = ("out", "cur", "ct", "cap")

    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = 0
        self.ct = 0
        self.cap = 8

    def bit(self, b: int) -> None:
        self.cur = (self.cur << 1) | b
        self.ct += 1
        if self.ct == self.cap:
            self.out.append(self.cur)
            self.cap = 7 if self.cur == 0xFF else 8
            self.cur = 0
            self.ct = 0

    def flush(self) -> bytes:
        if self.ct:
            self.out.append(self.cur << (self.cap - self.ct))
        return bytes(self.out)


def t1_encode(coeffs: np.ndarray, band: str, mb: int,
              segsym: bool = False, termall: bool = False,
              bypass: bool = False, reset: bool = False,
              causal: bool = False) -> tuple:
    """Encode one code block of signed int coefficients.

    Returns (data, npasses, zero_planes): `data` is one terminated
    segment (bytes) by default, or a list of codeword segments when
    termall (one per pass) or bypass (alternating MQ / raw runs) splits
    the codeword (the MQ codeword terminates at each boundary but
    context states persist unless reset, D.4.2).  Mirrors t1_decode
    exactly, including the vertically-causal context masking.
    """
    h, w = coeffs.shape
    mag_np = np.abs(coeffs.astype(np.int64))
    if mag_np.max(initial=0) >= (1 << mb):
        raise ValueError("JPEG2000 encoder: coefficient exceeds Mb planes")
    msb = int(mag_np.max(initial=0)).bit_length()
    zero_planes = mb - msb if msb else mb
    nplanes = mb - zero_planes
    if nplanes == 0:
        return b"", 0, zero_planes
    W = w + 2
    n = (h + 2) * W
    sig = [0] * n
    sgn = [0] * n
    vis = [0] * n
    ref = [0] * n
    nbr = [0] * n
    # magnitude / negativity as flat padded lists for symmetric indexing
    magf = [0] * n
    negf = [0] * n
    for yy in range(h):
        base = (yy + 1) * W + 1
        row = mag_np[yy]
        neg = coeffs[yy]
        for xx in range(w):
            magf[base + xx] = int(row[xx])
            negf[base + xx] = 1 if neg[xx] < 0 else 0
    offs = (-W - 1, -W, -W + 1, -1, 1, W - 1, W, W + 1)
    swap = band == "HL"
    zcf = _ZC_HH_F if band == "HH" else _ZC_LH_F
    cxs = new_contexts()
    coder = MQEncoder()
    code = coder.encode
    raw = False
    cur_seg = 0
    segs = []

    def begin_pass(k, kind):
        # terminate the open codeword segment at schedule boundaries
        # (TERMALL / BYPASS runs) and honor per-pass context reset
        nonlocal coder, code, raw, cur_seg, cxs
        s = _seg_of_pass(k, termall, bypass)
        r = _pass_is_raw(k, kind, bypass)
        if s != cur_seg:
            segs.append(coder.flush())
            cur_seg = s
            coder = _RawW() if r else MQEncoder()
            code = None if r else coder.encode
        raw = r
        if reset:
            cxs = new_contexts()

    def zc_ctx(i):
        hs = sig[i - 1] + sig[i + 1]
        vs = sig[i - W] + sig[i + W]
        ds = (sig[i - W - 1] + sig[i - W + 1]
              + sig[i + W - 1] + sig[i + W + 1])
        if swap:
            hs, vs = vs, hs
        return zcf[hs * 15 + vs * 5 + ds]

    def zc_ctx_causal(i):
        hs = sig[i - 1] + sig[i + 1]
        vs = sig[i - W]
        ds = sig[i - W - 1] + sig[i - W + 1]
        if swap:
            hs, vs = vs, hs
        return zcf[hs * 15 + vs * 5 + ds]

    def nbr_causal(i):
        return (sig[i - 1] or sig[i + 1] or sig[i - W]
                or sig[i - W - 1] or sig[i - W + 1])

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

    def set_sig(i, neg):
        sig[i] = 1
        sgn[i] = neg
        for o in offs:
            nbr[i + o] = 1

    npasses = 0
    for p in range(nplanes - 1, -1, -1):
        bit = 1 << p
        first = p == nplanes - 1
        if not first:
            begin_pass(npasses, "S")             # significance propagation
            for y0 in range(0, h, 4):
                ylim = min(y0 + 4, h)
                ybot = ylim - 1
                for x in range(w):
                    i = (y0 + 1) * W + x + 1
                    for _y in range(y0, ylim):
                        nb = (nbr_causal(i) if causal and _y == ybot
                              else nbr[i])
                        if sig[i] or not nb:
                            vis[i] = 0
                        elif raw:
                            d = 1 if (magf[i] & bit) else 0
                            coder.bit(d)
                            vis[i] = 1
                            if d:
                                coder.bit(negf[i])
                                set_sig(i, negf[i])
                        else:
                            d = 1 if (magf[i] & bit) else 0
                            zc = (zc_ctx_causal(i) if causal and _y == ybot
                                  else zc_ctx(i))
                            code(d, cxs[zc])
                            vis[i] = 1
                            if d:
                                ctx, xb = (sc_causal(i)
                                           if causal and _y == ybot
                                           else sc(i))
                                code(negf[i] ^ xb, cxs[ctx])
                                set_sig(i, negf[i])
                        i += W
            npasses += 1
            begin_pass(npasses, "M")             # magnitude refinement
            for y0 in range(0, h, 4):
                ylim = min(y0 + 4, h)
                ybot = ylim - 1
                for x in range(w):
                    i = (y0 + 1) * W + x + 1
                    for _y in range(y0, ylim):
                        if sig[i] and not vis[i]:
                            if raw:
                                coder.bit(1 if (magf[i] & bit) else 0)
                            else:
                                if ref[i]:
                                    ctx = 16
                                else:
                                    nb = (nbr_causal(i)
                                          if causal and _y == ybot
                                          else nbr[i])
                                    ctx = 15 if nb else 14
                                    ref[i] = 1
                                code(1 if (magf[i] & bit) else 0, cxs[ctx])
                        i += W
            npasses += 1
        begin_pass(npasses, "C")
        cx_rl = cxs[_CX_RL]
        cx_uni = cxs[_CX_UNI]
        for y0 in range(0, h, 4):                # cleanup
            ylim = min(y0 + 4, h)
            ybot = ylim - 1
            full = ylim - y0 == 4
            for x in range(w):
                i = (y0 + 1) * W + x + 1
                y = y0
                i3 = i + 3 * W
                if full and not (
                        sig[i] or vis[i] or nbr[i]
                        or sig[i + W] or vis[i + W] or nbr[i + W]
                        or sig[i + 2 * W] or vis[i + 2 * W] or nbr[i + 2 * W]
                        or sig[i3] or vis[i3]
                        or (nbr_causal(i3) if causal else nbr[i3])):
                    b0 = 1 if (magf[i] & bit) else 0
                    b1 = 1 if (magf[i + W] & bit) else 0
                    b2 = 1 if (magf[i + 2 * W] & bit) else 0
                    b3 = 1 if (magf[i3] & bit) else 0
                    if not (b0 or b1 or b2 or b3):
                        code(0, cx_rl)
                        continue
                    code(1, cx_rl)
                    r = 0 if b0 else (1 if b1 else (2 if b2 else 3))
                    code((r >> 1) & 1, cx_uni)
                    code(r & 1, cx_uni)
                    i += r * W
                    y = y0 + r
                    ctx, xb = sc_causal(i) if causal and r == 3 else sc(i)
                    code(negf[i] ^ xb, cxs[ctx])
                    set_sig(i, negf[i])
                    i += W
                    y += 1
                while y < ylim:
                    if sig[i] or vis[i]:
                        vis[i] = 0
                    else:
                        d = 1 if (magf[i] & bit) else 0
                        zc = (zc_ctx_causal(i) if causal and y == ybot
                              else zc_ctx(i))
                        code(d, cxs[zc])
                        if d:
                            ctx, xb = (sc_causal(i) if causal and y == ybot
                                       else sc(i))
                            code(negf[i] ^ xb, cxs[ctx])
                            set_sig(i, negf[i])
                    i += W
                    y += 1
        if segsym:
            for b in (1, 0, 1, 0):
                code(b, cxs[_CX_UNI])
        for j in range(n):
            if vis[j]:
                vis[j] = 0
        npasses += 1
    segs.append(coder.flush())
    if termall or bypass:
        return segs, npasses, zero_planes
    return segs[0], npasses, zero_planes


def fwd53_1d(x: np.ndarray, i0: int) -> np.ndarray:
    """Forward reversible 5/3 (F.4.8.2.1), inverse of inv53_1d."""
    n = x.shape[-1]
    if n == 1:
        return x.copy() if i0 % 2 == 0 else (x << 1)
    e = _extend(x.astype(np.int64), 2)
    i1 = i0 + n
    y = e.copy()
    po = np.arange(i0 if i0 % 2 == 1 else i0 + 1, i1, 2) - i0 + 2
    y[..., po] = e[..., po] - ((e[..., po - 1] + e[..., po + 1]) >> 1)
    y[..., 1] = y[..., 3]
    y[..., 0] = y[..., _reflect(-2, n) + 2]
    y[..., n + 2] = y[..., n]
    y[..., n + 3] = y[..., _reflect(n + 1, n) + 2]
    pe = np.arange(i0 if i0 % 2 == 0 else i0 + 1, i1, 2) - i0 + 2
    y[..., pe] = e[..., pe] + ((y[..., pe - 1] + y[..., pe + 1] + 2) >> 2)
    return y[..., 2:n + 2]


def fwd97_1d(s: np.ndarray, i0: int) -> np.ndarray:
    """Forward irreversible 9/7 (F.4.8.2.2)."""
    n = s.shape[-1]
    if n == 1:
        return s.astype(np.float64).copy()
    i1 = i0 + n
    x = _extend(s.astype(np.float64), 4)
    pe = np.arange(i0 if i0 % 2 == 0 else i0 + 1, i1, 2) + 4 - i0
    po = np.arange(i0 if i0 % 2 == 1 else i0 + 1, i1, 2) + 4 - i0

    def resync():
        for j in range(4):
            x[..., j] = x[..., _reflect(j - 4, n) + 4]
            x[..., n + 4 + j] = x[..., _reflect(n + j, n) + 4]

    x[..., po] += _A97 * (x[..., po - 1] + x[..., po + 1])
    resync()
    x[..., pe] += _B97 * (x[..., pe - 1] + x[..., pe + 1])
    resync()
    x[..., po] += _G97 * (x[..., po - 1] + x[..., po + 1])
    resync()
    x[..., pe] += _D97 * (x[..., pe - 1] + x[..., pe + 1])
    resync()
    x[..., pe] *= 1.0 / _K97
    x[..., po] *= _K97
    return x[..., 4:n + 4]


def _npasses_encode(wr: _HdrWriter, n: int) -> None:
    if n == 1:
        wr.bit(0)
    elif n == 2:
        wr.bits(0b10, 2)
    elif n <= 5:
        wr.bits(0b11, 2)
        wr.bits(n - 3, 2)
    elif n <= 36:
        wr.bits(0b1111, 4)
        wr.bits(n - 6, 5)
    elif n <= 164:
        wr.bits(0b111111111, 9)
        wr.bits(n - 37, 7)
    else:
        raise ValueError("JPEG2000: too many coding passes for one packet")


_JP2_SIG = b"\x00\x00\x00\x0cjP  \r\n\x87\n"


def _analyze(x: np.ndarray, tc: tuple, levels: int, reversible: bool) -> dict:
    """Forward 2D DWT (vertical then horizontal per level, mirroring the
    decoder's H-then-V synthesis)."""
    coeffs = {}
    cur = x.astype(np.int64 if reversible else np.float64)
    f1d = fwd53_1d if reversible else fwd97_1d
    for lev in range(1, levels + 1):
        u0, v0, u1, v1 = _band_rect(tc, lev - 1, "LL")
        y = f1d(np.ascontiguousarray(cur.T), v0).T
        y = f1d(np.ascontiguousarray(y), u0)
        ex0, ox0 = (u0, u0 + 1) if u0 % 2 == 0 else (u0 + 1, u0)
        ey0, oy0 = (v0, v0 + 1) if v0 % 2 == 0 else (v0 + 1, v0)
        coeffs[("HL", lev)] = y[ey0 - v0::2, ox0 - u0::2]
        coeffs[("LH", lev)] = y[oy0 - v0::2, ex0 - u0::2]
        coeffs[("HH", lev)] = y[oy0 - v0::2, ox0 - u0::2]
        cur = np.ascontiguousarray(y[ey0 - v0::2, ex0 - u0::2])
    coeffs[("LL", levels)] = cur
    return coeffs


def _quant_fields(delta: float, rb: int) -> tuple:
    """Solve E-3 for (eps, mu) with 2^(rb-eps) <= delta < 2^(rb-eps+1)."""
    import math

    e = rb - math.floor(math.log2(delta))
    mu = int(round((delta / 2.0 ** (rb - e) - 1.0) * 2048.0))
    mu = max(0, min(2047, mu))
    return e, mu


def _marker(code: int, body: bytes) -> bytes:
    return struct.pack(">HH", code, len(body) + 2) + body


def encode_j2k(img: np.ndarray, levels: int = 3, reversible: bool = True,
               qstep: float = 0.5, xcb: int = 6, ycb: int = 6,
               prog: int = 0, sop: bool = False, eph: bool = False,
               segsym: bool = False, tile: tuple | None = None,
               guard: int = 2, mct: bool | None = None,
               termall: bool = False, layers: int = 1,
               bypass: bool = False, reset: bool = False,
               causal: bool = False,
               precincts: list | tuple | None = None) -> bytes:
    """Encode a (H,W) or (H,W,3) uint8 array as a raw JPEG 2000
    codestream.  reversible=True -> 5/3 lossless; False -> 9/7 with a
    uniform step of `qstep` per subband.  layers > 1 distributes each
    block's coding passes across quality layers (B.8), one packet per
    (layer, resolution, component)."""
    if img.ndim == 2:
        comps = [img]
    else:
        comps = [img[:, :, i] for i in range(img.shape[2])]
    ncomp = len(comps)
    if mct is None:
        mct = ncomp == 3
    h, w = comps[0].shape
    xt, yt = tile if tile else (w, h)
    depth = 8
    cbstyle = ((0x20 if segsym else 0) | (0x04 if termall else 0)
               | (0x01 if bypass else 0) | (0x02 if reset else 0)
               | (0x08 if causal else 0))
    scod = (0x02 if sop else 0) | (0x04 if eph else 0)
    if precincts is not None:
        if isinstance(precincts, tuple):
            prec_list = [precincts] * (levels + 1)
        else:
            prec_list = list(precincts)
            if len(prec_list) != levels + 1:
                raise ValueError("precincts: need one (PPx, PPy) per "
                                 "resolution 0..levels")
        scod |= 0x01
    else:
        prec_list = [(15, 15)] * (levels + 1)
    out = bytearray()
    out += struct.pack(">H", _SOC)
    siz = struct.pack(">HIIIIIIIIH", 0, w, h, 0, 0, xt, yt, 0, 0, ncomp)
    for _ in range(ncomp):
        siz += bytes([depth - 1, 1, 1])
    out += _marker(_SIZ, siz)
    cod = bytes([scod, prog]) + struct.pack(">H", layers) + bytes([
        1 if mct else 0, levels, xcb - 2, ycb - 2, cbstyle,
        1 if reversible else 0])
    if scod & 0x01:
        cod += bytes(px | (py << 4) for px, py in prec_list)
    out += _marker(_COD, cod)
    # QCD: subband order = LL then (HL,LH,HH) coarsest->finest (A.6.4)
    border = [("LL", levels)]
    for r in range(1, levels + 1):
        lev = levels - r + 1
        border += [("HL", lev), ("LH", lev), ("HH", lev)]
    if reversible:
        qcd = bytes([(guard << 5) | 0]) + bytes(
            (depth + _GAIN[bt]) << 3 for bt, _ in border)
        deltas = {k: None for k in border}
    else:
        qcd = bytes([(guard << 5) | 2])
        deltas = {}
        for bt, lev in border:
            rb = depth + _GAIN[bt]
            e, mu = _quant_fields(qstep, rb)
            qcd += struct.pack(">H", (e << 11) | mu)
            deltas[(bt, lev)] = 2.0 ** (rb - e) * (1.0 + mu / 2048.0)
    out += _marker(_QCD, qcd)
    out += _marker(_COM, b"\x00\x01sparkstract jp2 fixture encoder")
    cp = _CodingParams(
        dict(prog=prog, layers=layers, mct=1 if mct else 0, levels=levels,
             xcb=xcb, ycb=ycb, cbstyle=cbstyle, prec=prec_list,
             transform=1 if reversible else 0, sop=sop, eph=eph),
        _parse_qcd(qcd))
    # multi-component transform on full image (applied per tile below)
    ntx, nty = _ceil_div(w, xt), _ceil_div(h, yt)
    for t in range(ntx * nty):
        tx, ty = t % ntx, t // ntx
        tx0, ty0 = tx * xt, ty * yt
        tx1, ty1 = min(tx0 + xt, w), min(ty0 + yt, h)
        tc = (tx0, ty0, tx1, ty1)
        planes = [c[ty0:ty1, tx0:tx1].astype(np.int64) - (1 << (depth - 1))
                  for c in comps]
        if mct and ncomp >= 3:
            r_, g, b = planes[0], planes[1], planes[2]
            if reversible:  # RCT
                y_ = (r_ + 2 * g + b) >> 2
                u = b - g
                v = r_ - g
                planes = [y_, u, v] + planes[3:]
            else:  # ICT
                rf, gf, bf = (p.astype(np.float64) for p in (r_, g, b))
                y_ = 0.299 * rf + 0.587 * gf + 0.114 * bf
                u = -0.168736 * rf - 0.331264 * gf + 0.5 * bf
                v = 0.5 * rf - 0.418688 * gf - 0.081312 * bf
                planes = [y_, u, v] + planes[3:]
        tdata = bytearray()
        comp_bands = []
        for c in range(ncomp):
            coeffs = _analyze(planes[c], tc, levels, reversible)
            bands = []
            for bi, (bt, lev) in enumerate(border):
                r_of_band = 0 if bt == "LL" else levels - lev + 1
                band = _Band(bt, lev, _band_rect(tc, lev, bt), xcb, ycb,
                             _prec_grid(tc, levels, r_of_band, prec_list))
                mb, _delta = cp.band_quant(bi, bt, lev, depth)
                arr = coeffs[(bt, lev)]
                if not reversible:
                    d = deltas[(bt, lev)]
                    q = np.sign(arr) * np.floor(np.abs(arr) / d)
                    arr = q.astype(np.int64)
                for by in range(band.nby):
                    for bx in range(band.nbx):
                        x0, y0, x1, y1 = band.block_rect(bx, by)
                        if x1 <= x0 or y1 <= y0:
                            continue
                        blk = arr[y0 - band.rect[1]:y1 - band.rect[1],
                                  x0 - band.rect[0]:x1 - band.rect[0]]
                        data, npasses, zp = t1_encode(
                            np.asarray(blk, np.int64).astype(np.int32),
                            bt, mb, segsym=segsym, termall=termall,
                            bypass=bypass, reset=reset, causal=causal)
                        rec = band.blocks[by * band.nbx + bx]
                        rec[2], rec[3] = zp, npasses
                        # per-layer chunks of (pass count, portions):
                        # passes split evenly (early layers take the
                        # ceil); when the codeword is segmented (TERMALL
                        # or BYPASS) layers take WHOLE segments balanced
                        # by passes, else the single segment splits
                        # proportionally by bytes
                        split = [npasses // layers
                                 + (1 if k < npasses % layers else 0)
                                 for k in range(layers)]
                        chunks = []
                        if termall or bypass:
                            seg_cnt = [0] * len(data)
                            for kk in range(npasses):
                                seg_cnt[_seg_of_pass(
                                    kk, termall, bypass)] += 1
                            si = 0
                            for li in range(layers):
                                got = 0
                                portions = []
                                while si < len(data) and (
                                        got < split[li]
                                        or li == layers - 1):
                                    portions.append(
                                        (seg_cnt[si], data[si]))
                                    got += seg_cnt[si]
                                    si += 1
                                chunks.append((got, portions))
                        else:
                            cum = 0
                            pos = 0
                            for np_k in split:
                                cum += np_k
                                end = (round(len(data) * cum / npasses)
                                       if npasses else 0)
                                chunks.append(
                                    (np_k, [(np_k, data[pos:end])]))
                                pos = end
                        rec[4] = chunks
                for pr in band.precincts:
                    pr["incl"].set_values(
                        [[0 if band.blocks[
                            (pr["by0"] + py) * band.nbx
                            + pr["bx0"] + px][3] else layers
                          for px in range(pr["nbx"])]
                         for py in range(pr["nby"])] or [[layers]])
                    pr["zb"].set_values(
                        [[band.blocks[(pr["by0"] + py) * band.nbx
                                      + pr["bx0"] + px][2]
                          for px in range(pr["nbx"])]
                         for py in range(pr["nby"])] or [[0]])
                bands.append(band)
            comp_bands.append(bands)
        nprec = [[max(1, _prec_grid(tc, levels, r, prec_list)[2]
                      * _prec_grid(tc, levels, r, prec_list)[3])
                  for r in range(levels + 1)] for _ in range(ncomp)]
        for layer, r, c, p in _packet_order(cp, ncomp, nprec):
            pb = ([comp_bands[c][0]] if r == 0
                  else comp_bands[c][1 + 3 * (r - 1):4 + 3 * (r - 1)])
            tdata += _encode_packet(pb, layer, cp, p)
        sot = struct.pack(">HHIBB", 10, t, 12 + 2 + len(tdata), 0, 1)
        out += struct.pack(">H", _SOT) + sot + struct.pack(">H", _SOD)
        out += tdata
    out += struct.pack(">H", _EOC)
    return bytes(out)


def _encode_packet(bands: list, layer: int, cp: "_CodingParams",
                   prec: int = 0) -> bytes:
    wr = _HdrWriter()
    bodies = bytearray()
    entries = []
    for band in bands:
        pr = band.precincts[prec] if prec < len(band.precincts) else None
        if pr is None:
            continue
        for py in range(pr["nby"]):
            for px in range(pr["nbx"]):
                bx, by = pr["bx0"] + px, pr["by0"] + py
                rec = band.blocks[by * band.nbx + bx]
                x0, y0, x1, y1 = band.block_rect(bx, by)
                if x1 <= x0 or y1 <= y0:
                    continue
                np_k, segs = rec[4][layer] if rec[3] else (0, [])
                entries.append((pr, px, py, rec, np_k, segs))
    if not any(e[4] for e in entries):
        wr.bit(0)                      # zero-length packet (B.10.3)
    else:
        wr.bit(1)
        for pr, px, py, rec, np_k, segs in entries:
            if not rec[0]:
                pr["incl"].encode(wr, px, py, layer + 1)
                if not np_k:
                    continue           # stays unincluded this layer
                rec[0] = True
                t = 1
                while True:            # zero bit-planes at first inclusion
                    pr["zb"].encode(wr, px, py, t)
                    leaf = pr["zb"]._path(px, py)[-1]
                    if pr["zb"].known[leaf] and pr["zb"].value[leaf] < t:
                        break
                    t += 1
            else:
                wr.bit(1 if np_k else 0)
                if not np_k:
                    continue
            _npasses_encode(wr, np_k)
            # one length per codeword-segment portion, Lblock +
            # floor(log2 passes-in-portion) bits each (B.10.7)
            need = 1
            for cnt, sg in segs:
                wneed = (max(1, len(sg).bit_length())
                         - (cnt.bit_length() - 1))
                if wneed > need:
                    need = wneed
            while rec[1] < need:
                wr.bit(1)
                rec[1] += 1
            wr.bit(0)
            for cnt, sg in segs:
                wr.bits(len(sg), rec[1] + cnt.bit_length() - 1)
                bodies += sg
    hdr = wr.flush()
    pkt = bytearray()
    if cp.sop:
        pkt += struct.pack(">HHH", _SOP, 4, 0)
    pkt += hdr
    if cp.eph:
        pkt += struct.pack(">H", _EPH)
    pkt += bodies
    return bytes(pkt)


def _box(tbox: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + tbox + body


def encode_jp2(img: np.ndarray, **kw) -> bytes:
    """Wrap encode_j2k output in a minimal JP2 box container."""
    cs = encode_j2k(img, **kw)
    ncomp = 1 if img.ndim == 2 else img.shape[2]
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIHBBBB", h, w, ncomp, 7, 7, 0, 0)
    colr = b"\x01\x00\x00" + struct.pack(">I", 17 if ncomp == 1 else 16)
    jp2h = _box(b"ihdr", ihdr) + _box(b"colr", colr)
    return (_JP2_SIG
            + _box(b"ftyp", b"jp2 " + struct.pack(">I", 0) + b"jp2 ")
            + _box(b"jp2h", jp2h)
            + _box(b"jp2c", cs))
