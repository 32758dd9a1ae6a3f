"""Baseline JPEG codec (pure numpy + python), grayscale-oriented.

The reference ingests JPEG through Leptonica's pixReadMem dispatch
(SetImage /root/reference/src/api/baseapi.cpp:881,906); this is the
from-scratch equivalent for the one mainstream format the container has no
library for. Scope:

- decode: baseline (SOF0/SOF1) AND progressive (SOF2) DCT, 8-bit,
  grayscale OR interleaved color (any sampling factors); 3-component color
  reconstructs the LUMA component only — the pipeline is grayscale, so
  chroma data is consumed (baseline) or its AC scans skipped outright
  (progressive scans are per-component, so a non-luma scan's entropy data
  can be jumped without decoding). 4-component Adobe CMYK/YCCK (APP14
  transform 0/2, inverted storage — the print-workflow shape) decodes ALL
  components and collapses through RGB to BT.601 luma; progressive CMYK
  raises a named out-of-scope error. Progressive scans implement the full
  T.81 §G.1.2 semantics: DC first/refine (point transform), AC first with
  EOB runs, AC refinement with correction bits. Restart markers (DRI/
  RSTn) and stuffed bytes handled in both modes. Other SOFn (lossless,
  arithmetic) raise a NAMED error at the seam, like the WEBP branch in
  codecs.py — a clear "transcode upstream", not a silent drop.
- encode: the mirror encoder is sparkstract/fixtures/encoders/jpeg.py.

All heavy math is vectorized: the forward/inverse DCT run as one einsum
over every 8x8 block at once; only the entropy coding walks bit-by-bit
(bounded by the compressed size, a few hundred KB per page).
"""

from __future__ import annotations

import math

import numpy as np

from .bits import canonical_codes
from .raster import apply_exif_orientation, luma

# ---------------------------------------------------------------- tables


def _zigzag() -> list[tuple[int, int]]:
    out: list[tuple[int, int]] = []
    for d in range(15):
        rs = (range(min(d, 7), max(0, d - 7) - 1, -1) if d % 2 == 0
              else range(max(0, d - 7), min(d, 7) + 1))
        out.extend((r, d - r) for r in rs)
    return out


_ZZ = _zigzag()
_ZZ_FLAT = np.array([r * 8 + c for r, c in _ZZ])        # natural idx per zz pos
_UNZZ = np.argsort(_ZZ_FLAT)                            # zz pos per natural idx

_DCT = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT[_k, _n] = math.cos(math.pi * (2 * _n + 1) * _k / 16) * (
            math.sqrt(1 / 8) if _k == 0 else math.sqrt(2 / 8))


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length): BITS[i] codes of length i + 1, assigned
    to the HUFFVAL symbols in order (T.81 Annex C)."""
    lengths = [ln for ln in range(1, 17) for _ in range(bits[ln - 1])]
    return {vals[k]: cl for k, cl in enumerate(canonical_codes(lengths))}


def _decode_table(bits: list[int], vals: list[int]) -> tuple[list, dict]:
    """(lookahead, codes) for `_huff`. `codes` maps (length, code) ->
    symbol; `lookahead[b]` is `length << 8 | symbol` for the code of at
    most 8 bits that prefixes the byte b (0 if none). Built from `codes`,
    so a malformed table's unreachable or overwritten codes stay
    unreachable in both."""
    codes = {(ln, code): sym
             for sym, (code, ln) in _huff_codes(bits, vals).items()}
    look = [0] * 256
    for (ln, code), sym in codes.items():
        if ln <= 8 and code < (1 << ln):
            lo = code << (8 - ln)
            look[lo:lo + (1 << (8 - ln))] = [(ln << 8) | sym] * (1 << (8 - ln))
    return look, codes


# ---------------------------------------------------------------- decoder

class _BitReader:
    """MSB-first reader over one entropy segment (stuffing and RST markers
    already removed); `acc` holds the `nbits` bits not yet consumed."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bits(self, n: int) -> int:
        """The next n bits as one int (0 for n == 0)."""
        nb = self.nbits
        if nb < n:
            need = (n - nb + 7) >> 3
            pos = self.pos
            if pos + need > len(self.data):
                raise ValueError("invalid JPEG: truncated entropy data")
            self.acc = (self.acc << (need << 3)) | int.from_bytes(
                self.data[pos:pos + need], "big")
            self.pos = pos + need
            nb += need << 3
        nb -= n
        self.nbits = nb
        v = self.acc >> nb
        self.acc &= (1 << nb) - 1
        return v


def _huff(reader: _BitReader, table: tuple[list, dict]) -> int:
    """One Huffman symbol: codes of up to 8 bits in one lookahead step,
    longer ones by length on a window of up to 16 bits. The window takes
    only bytes that exist (a short tail is zero-padded and must hold the
    whole code), so truncated data and bad codes raise the errors a
    bit-serial walk from the first bit raises."""
    look, codes = table
    data, pos = reader.data, reader.pos
    nb, acc = reader.nbits, reader.acc
    if nb < 8 and pos < len(data):
        acc = (acc << 8) | data[pos]
        pos += 1
        nb += 8
    e = look[acc >> (nb - 8) if nb >= 8 else acc << (8 - nb)]
    if e and e >> 8 <= nb:
        nb -= e >> 8
        reader.pos, reader.nbits, reader.acc = pos, nb, acc & ((1 << nb) - 1)
        return e & 0xFF
    # no code of <= 8 bits prefixes the window: lengths 9..16
    if nb < 16 and pos < len(data):
        acc = (acc << 8) | data[pos]
        pos += 1
        nb += 8
    reader.pos, reader.nbits, reader.acc = pos, nb, acc
    for ln in range(9, 17):
        if ln > nb:
            raise ValueError("invalid JPEG: truncated entropy data")
        sym = codes.get((ln, acc >> (nb - ln)))
        if sym is not None:
            nb -= ln
            reader.nbits, reader.acc = nb, acc & ((1 << nb) - 1)
            return sym
    raise ValueError("invalid JPEG: bad Huffman code")


def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _decode_block(reader: _BitReader, dc_tbl, ac_tbl, pred: int,
                  out: np.ndarray | None) -> int:
    s = _huff(reader, dc_tbl)
    pred += _extend(reader.bits(s), s) if s else 0
    if abs(pred) > (1 << 24):  # legit DC fits 11 bits; corrupt data only
        raise ValueError("invalid JPEG: DC out of range")
    if out is not None:
        out[0] = pred
    i = 1
    while i < 64:
        sym = _huff(reader, ac_tbl)
        if sym == 0x00:                  # EOB
            break
        if sym == 0xF0:                  # ZRL
            i += 16
            continue
        i += sym >> 4
        s = sym & 0x0F
        if i > 63:
            raise ValueError("invalid JPEG: AC index overflow")
        v = _extend(reader.bits(s), s)
        if out is not None:
            out[i] = v
        i += 1
    return pred


def _exif_orientation(t: bytes) -> int:
    """Orientation (tag 274) from an APP1 Exif payload's embedded TIFF
    structure — byte-order header + IFD0 entry scan. Anything malformed
    degrades to 1 (display as stored), never an error: a broken Exif
    blob must not fail an otherwise-valid image at ingest."""
    if t[:4] == b"II*\x00":
        bo = "little"
    elif t[:4] == b"MM\x00*":
        bo = "big"
    else:
        return 1
    off = int.from_bytes(t[4:8], bo)
    if off + 2 > len(t):
        return 1
    n = int.from_bytes(t[off:off + 2], bo)
    for i in range(min(n, 512)):
        p = off + 2 + 12 * i
        if p + 12 > len(t):
            break
        if (int.from_bytes(t[p:p + 2], bo) == 274
                and int.from_bytes(t[p + 2:p + 4], bo) == 3):
            return int.from_bytes(t[p + 8:p + 10], bo) or 1
    return 1


def _scan_entropy(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Split one scan's entropy-coded data (from `start`) at RST markers,
    dropping stuffed zero bytes. Returns (segments, pos of the terminating
    0xFF marker or end of data)."""
    n = len(data)
    segments: list[bytes] = []
    cur = bytearray()
    p = start
    while p < n:
        b = data[p]
        if b == 0xFF and p + 1 < n:
            nxt = data[p + 1]
            if nxt == 0x00:
                cur.append(0xFF)
                p += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segments.append(bytes(cur))
                cur = bytearray()
                p += 2
                continue
            break                                   # EOI or next marker
        cur.append(b)
        p += 1
    segments.append(bytes(cur))
    return segments, p


# ------------------------------------------- progressive scan primitives
# T.81 §G.1.2 / the jdphuff decoding procedures. State per scan: the DC
# predictors (DC scans) or the EOB run counter (AC scans); both reset at
# restart boundaries.


def _dc_first(reader, dc_tbl, pred: int, al: int,
              out: np.ndarray | None) -> int:
    s = _huff(reader, dc_tbl)
    pred += _extend(reader.bits(s), s) if s else 0
    if abs(pred) > (1 << 24):  # legit DC fits 11 bits; corrupt data only
        raise ValueError("invalid JPEG: DC out of range")
    if out is not None:
        out[0] = pred << al
    return pred


def _dc_refine(reader, al: int, out: np.ndarray | None) -> None:
    bit = reader.bits(1)
    if bit and out is not None:
        out[0] |= 1 << al


def _ac_first(reader, ac_tbl, zz: np.ndarray, ss: int, se: int, al: int,
              eobrun: int) -> int:
    if eobrun > 0:
        return eobrun - 1
    z = zz.tolist()
    k = ss
    try:
        while k <= se:
            sym = _huff(reader, ac_tbl)
            r, s = sym >> 4, sym & 0x0F
            if s:
                k += r
                if k > se:
                    raise ValueError("invalid JPEG: AC index overflow")
                z[k] = _extend(reader.bits(s), s) << al
                k += 1
            elif r == 15:                           # ZRL
                k += 16
            else:                                   # EOBn
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.bits(r)
                break
    except IndexError:
        _past_block(zz, k)
    zz[ss:se + 1] = z[ss:se + 1]
    return eobrun


def _ac_refine(reader, ac_tbl, zz: np.ndarray, ss: int, se: int, al: int,
               eobrun: int) -> int:
    p1, m1 = 1 << al, -(1 << al)
    bits = reader.bits
    z = zz.tolist()
    k = ss
    try:
        if eobrun == 0:
            while k <= se:
                sym = _huff(reader, ac_tbl)
                r, s = sym >> 4, sym & 0x0F
                val = 0
                if s:
                    val = p1 if bits(1) else m1
                elif r != 15:                       # EOBn
                    eobrun = 1 << r
                    if r:
                        eobrun += bits(r)
                    break
                # advance past r zero-HISTORY coefficients, emitting
                # correction bits for the nonzero-history ones passed over
                # (ZRL: r == 15 consumes 16 zero-history positions, val
                # stays 0)
                while k <= se:
                    c = z[k]
                    if c:
                        if bits(1) and not c & p1:
                            z[k] = c + (p1 if c >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    z[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                c = z[k]
                if c and bits(1) and not c & p1:
                    z[k] = c + (p1 if c >= 0 else m1)
                k += 1
            eobrun -= 1
    except IndexError:
        _past_block(zz, k)
    zz[ss:se + 1] = z[ss:se + 1]
    return eobrun


def _past_block(zz: np.ndarray, k: int) -> None:
    """A corrupt scan header (Se > 63) walked the band past the block's 64
    coefficients: raise numpy's IndexError for position k, the error the
    per-coefficient array walk raised there, then re-raise the list's."""
    zz[k]  # noqa: B018 — raises for k >= 64
    raise


def decode_gray_jpeg(data: bytes) -> np.ndarray:
    """Baseline or progressive JPEG bytes -> uint8 HxW grayscale (luma of
    color input), upright per any APP1 Exif Orientation tag (phone-camera
    scans arrive rotated-with-tag; the reference inherits the un-rotation
    from Leptonica's read path, SetImage baseapi.cpp:881)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("invalid JPEG: missing SOI")
    orientation = 1
    adobe_transform = None
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps: list[tuple[int, int, int, int]] = []   # (id, h, v, tq)
    hsize = wsize = 0
    restart = 0
    progressive = False
    # (comps [(ci, td, ta)], ss, se, ah, al, segments)
    scans: list[tuple[list, int, int, int, int, list[bytes]]] = []
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("invalid JPEG: marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        ln = int.from_bytes(data[pos + 2:pos + 4], "big")
        seg = data[pos + 4:pos + 2 + ln]
        if marker == 0xDB:                         # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq:
                    tbl = np.frombuffer(seg[p:p + 128], dtype=">u2")
                    p += 128
                else:
                    tbl = np.frombuffer(seg[p:p + 64], dtype=np.uint8)
                    p += 64
                nat = np.zeros(64, dtype=np.int32)
                nat[_ZZ_FLAT] = tbl.astype(np.int32)
                quant[tq] = nat
        elif marker == 0xC4:                       # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1:p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17:p + 17 + nv])
                (huff_ac if tc else huff_dc)[th] = _decode_table(bits, vals)
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):         # SOF0/1 baseline, 2 prog
            progressive = marker == 0xC2
            hsize = int.from_bytes(seg[1:3], "big")
            wsize = int.from_bytes(seg[3:5], "big")
            # memory-cost guard before any allocation, like the reference's
            # CheckAndReportIfImageTooLarge (baseapi.cpp:354): a corrupt
            # SOF must not provoke a multi-GB coefficient buffer
            if hsize * wsize > 100_000_000:
                raise ValueError("invalid JPEG: image dimensions too large")
            nc = seg[5]
            comps = [(seg[6 + 3 * i], seg[7 + 3 * i] >> 4,
                      seg[7 + 3 * i] & 0x0F, seg[8 + 3 * i])
                     for i in range(nc)]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(f"JPEG SOF{marker - 0xC0}: only baseline "
                             "(SOF0/SOF1) and progressive (SOF2) supported")
        elif marker == 0xE1 and seg[:6] == b"Exif\x00\x00":  # APP1 Exif
            orientation = _exif_orientation(seg[6:])
        elif marker == 0xEE and seg[:5] == b"Adobe":  # APP14: transform id
            # byte 11 = color transform: 0 = none (CMYK/RGB), 1 = YCbCr,
            # 2 = YCCK. Adobe 4-component data is stored INVERTED.
            adobe_transform = seg[11] if len(seg) > 11 else 0
        elif marker == 0xDD:                       # DRI
            restart = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:                       # SOS
            if not comps:
                raise ValueError("invalid JPEG: SOS before SOF")
            ns = seg[0]
            ids = [c[0] for c in comps]
            scomps = []
            for i in range(ns):
                cid, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                if cid not in ids:
                    raise ValueError("invalid JPEG: unknown scan component")
                scomps.append((ids.index(cid), tt >> 4, tt & 0x0F))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            segments, pos = _scan_entropy(data, pos + 2 + ln)
            scans.append((scomps, ss, se, ahal >> 4, ahal & 0x0F, segments))
            if len(scans) > 256:
                raise ValueError("invalid JPEG: too many scans")
            continue
        pos += 2 + ln
    if not scans or not comps:
        raise ValueError("invalid JPEG: no scan found")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-wsize // (8 * hmax))
    mcuy = -(-hsize // (8 * vmax))
    # 1/3-component streams reconstruct LUMA ONLY (comp 0); 4-component
    # Adobe CMYK/YCCK has no standalone luma plane — gray needs all four,
    # so every component's coefficients are kept (§Adobe APP14; values
    # stored inverted per Adobe convention)
    keep = range(len(comps)) if len(comps) == 4 else (0,)
    if len(comps) == 4 and progressive:
        raise ValueError("progressive 4-component (CMYK) JPEG: out of "
                         "scope (baseline CMYK/YCCK supported)")
    coefs = {ci: np.zeros((mcuy * comps[ci][2], mcux * comps[ci][1], 64),
                          dtype=np.int32) for ci in keep}
    # per-component block dims for NON-interleaved scans (T.81 A.2.2:
    # ceil of the component's sample dims, not padded to MCU multiples)
    cdims = []
    for _, ch, cv, _tq in comps:
        cw = -(-wsize * ch // hmax)
        chh = -(-hsize * cv // vmax)
        cdims.append((-(-chh // 8), -(-cw // 8)))

    for scomps, ss, se, ah, al, segments in scans:
        if progressive and ss > 0:
            if len(scomps) != 1:
                raise ValueError("invalid JPEG: interleaved AC scan")
            if scomps[0][0] != 0:
                continue  # non-luma AC scan: entropy data skipped wholesale
        _decode_scan(scomps, ss, se, ah, al, segments, comps, cdims,
                     huff_dc, huff_ac, coefs, mcux, mcuy, restart,
                     progressive)

    def recon(ci: int) -> np.ndarray:
        """One component's coefficients -> full-size float plane: dezigzag,
        dequantize, IDCT (single einsum), upsample, crop."""
        _, ch, cv, tq = comps[ci]
        if tq not in quant:
            raise ValueError("invalid JPEG: missing quantization table")
        bh, bw = mcuy * cv, mcux * ch
        coef_nat = coefs[ci][:, :, _UNZZ].astype(np.float64)
        deq = coef_nat * quant[tq][np.newaxis, np.newaxis, :]
        blocks = deq.reshape(bh, bw, 8, 8)
        pix = np.einsum("ji,nmjk,kl->nmil", _DCT, blocks, _DCT)
        plane = pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8) + 128.0
        if ch < hmax or cv < vmax:
            plane = np.repeat(np.repeat(plane, vmax // cv, axis=0),
                              hmax // ch, axis=1)
        return plane[:hsize, :wsize]

    if len(comps) == 4:
        a, b, c, d = (recon(ci) for ci in range(4))
        if adobe_transform == 2:
            # YCCK: (Y, Cb, Cr) carry the INVERTED CMY through the
            # standard YCbCr transform; invert it back to (255-C, ...)
            yy, cb, cr = a, b, c
            a = yy + 1.402 * (cr - 128.0)
            b = yy - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
            c = yy + 1.772 * (cb - 128.0)
        elif adobe_transform is None:
            # No APP14 at all: non-Adobe 4-component JPEGs conventionally
            # store DIRECT ink coverage (C..K, 0 = no ink) — assuming the
            # Adobe inversion here would flip the luma of every such file
            a, b, c, d = 255.0 - a, 255.0 - b, 255.0 - c, 255.0 - d
        # Adobe stores ink coverage inverted: a = 255-C ... d = 255-K.
        # RGB = (255-C)(255-K)/255 channel-wise, then BT.601 luma.
        k = np.clip(np.round(d), 0.0, 255.0)
        ri = np.clip(np.round(np.clip(a, 0, 255) * k / 255.0),
                     0, 255).astype(np.int32)
        gi = np.clip(np.round(np.clip(b, 0, 255) * k / 255.0),
                     0, 255).astype(np.int32)
        bi = np.clip(np.round(np.clip(c, 0, 255) * k / 255.0),
                     0, 255).astype(np.int32)
        img = luma(ri, gi, bi)
        return apply_exif_orientation(img, orientation)

    img = np.clip(np.round(recon(0)), 0, 255).astype(np.uint8)
    return apply_exif_orientation(img, orientation)


def _decode_scan(scomps, ss, se, ah, al, segments, comps, cdims,
                 huff_dc, huff_ac, coefs, mcux, mcuy, restart,
                 progressive) -> None:
    """Decode one scan into the kept components' coefficient buffers
    (`coefs`: ci -> (bh, bw, 64) zigzag-order array — luma only for 1/3
    component streams, all four for Adobe CMYK). Handles interleaved
    (multi-component) and single-component layouts, baseline full-band
    blocks, and the four progressive modes."""
    reader = _BitReader(segments[0])
    seg_i = 0
    preds = [0] * len(comps)
    eobrun = 0
    interleaved = len(scomps) > 1

    def unit_count():
        if interleaved:
            return mcux * mcuy
        bh, bw = cdims[scomps[0][0]]
        return bh * bw

    total = unit_count()
    for unit in range(total):
        if restart and unit and unit % restart == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("invalid JPEG: missing restart segment")
            reader = _BitReader(segments[seg_i])
            preds = [0] * len(comps)
            eobrun = 0
        if interleaved:
            my, mx = divmod(unit, mcux)
            for ci, td, ta in scomps:
                _, ch, cv, _tq = comps[ci]
                for v in range(cv):
                    for hb in range(ch):
                        buf = coefs.get(ci)
                        out = (buf[my * cv + v, mx * ch + hb]
                               if buf is not None else None)
                        if not progressive:
                            preds[ci] = _decode_block(
                                reader, huff_dc[td], huff_ac[ta],
                                preds[ci], out)
                        elif ah == 0:               # DC first (ss == 0)
                            preds[ci] = _dc_first(reader, huff_dc[td],
                                                  preds[ci], al, out)
                        else:                       # DC refine
                            _dc_refine(reader, al, out)
        else:
            ci, td, ta = scomps[0]
            bh, bw = cdims[ci]
            by, bx = divmod(unit, bw)
            buf = coefs.get(ci)
            out = buf[by, bx] if buf is not None else None
            if not progressive:
                preds[ci] = _decode_block(reader, huff_dc[td],
                                          huff_ac[ta], preds[ci], out)
            elif ss == 0 and ah == 0:
                preds[ci] = _dc_first(reader, huff_dc[td], preds[ci],
                                      al, out)
            elif ss == 0:
                _dc_refine(reader, al, out)
            elif ah == 0:                           # AC first — luma only
                eobrun = _ac_first(reader, huff_ac[ta], out, ss, se,
                                   al, eobrun)
            else:                                   # AC refine — luma only
                eobrun = _ac_refine(reader, huff_ac[ta], out, ss, se,
                                    al, eobrun)
