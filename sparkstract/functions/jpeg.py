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
- encode (fixture side): baseline grayscale with the Annex-K luminance
  quantization table scaled by `quality` (libjpeg's 5000/q | 200-2q
  formula) and the Annex-K standard Huffman tables; optional 4:4:4 color
  mode (constant chroma) and restart intervals exist solely so the
  decoder's multi-component and RST paths are testable in-container.
  `encode_progressive_jpeg` emits a real multi-scan SOF2 stream
  (spectral selection + successive approximation, EOB runs flushed per
  block so the Annex-K tables suffice) for the progressive decode path.

All heavy math is vectorized: the forward/inverse DCT run as one einsum
over every 8x8 block at once; only the entropy coding walks bit-by-bit
(bounded by the compressed size, a few hundred KB per page).
"""

from __future__ import annotations

import math

import numpy as np

from .raster import apply_exif_orientation

# ---------------------------------------------------------------- tables

# Annex K.1 luminance quantization (natural row-major order)
_QUANT_LUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

# Annex K.3.1 standard DC luminance Huffman spec
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))

# Annex K.3.2 standard AC luminance Huffman spec
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


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


def _scaled_quant(quality: int) -> np.ndarray:
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    tbl = (_QUANT_LUM * scale + 50) // 100
    return np.clip(tbl, 1, 255).astype(np.int32)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) with JPEG canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> tuple[list, dict]:
    """(lookahead, codes) for `_huff`. `codes` maps (length, code) ->
    symbol; `lookahead[b]` is `length << 8 | symbol` for the code of at
    most 8 bits that prefixes the byte b (0 if none). Built from `codes`,
    so a malformed table's unreachable or overwritten codes stay
    unreachable in both."""
    codes = {(ln, code): sym
             for sym, (code, ln) in _canonical_codes(bits, vals).items()}
    look = [0] * 256
    for (ln, code), sym in codes.items():
        if ln <= 8 and code < (1 << ln):
            lo = code << (8 - ln)
            look[lo:lo + (1 << (8 - ln))] = [(ln << 8) | sym] * (1 << (8 - ln))
    return look, codes


# ---------------------------------------------------------------- encoder

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:            # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def pad_align(self) -> None:
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _encode_block(w: _BitWriter, zz: np.ndarray, dc_pred: int,
                  dc_codes, ac_codes) -> int:
    diff = int(zz[0]) - dc_pred
    s = abs(diff).bit_length()
    code, ln = dc_codes[s]
    w.put(code, ln)
    if s:
        w.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for i in range(1, 64):
        v = int(zz[i])
        if i > last_nz:
            code, ln = ac_codes[0x00]       # EOB
            w.put(code, ln)
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]       # ZRL
            w.put(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac_codes[(run << 4) | s]
        w.put(code, ln)
        w.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    return int(zz[0])


def encode_gray_jpeg(img: np.ndarray, quality: int = 90,
                     restart_interval: int = 0, color: bool = False,
                     exif_orientation: int | None = None) -> bytes:
    """uint8 HxW -> baseline JFIF bytes. `color` wraps the same gray data
    as a 3-component 4:4:4 YCbCr stream with constant chroma (decoder
    multi-component test path); `restart_interval` emits DRI/RSTn;
    `exif_orientation` emits an APP1 Exif segment carrying tag 274
    (pixels stored as given — the fixture side of EXIF-rotated ingest)."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    quant = _scaled_quant(quality)
    ph, pw = -h % 8, -w % 8
    padded = np.pad(img, ((0, ph), (0, pw)), mode="edge").astype(np.float64)
    hh, ww = padded.shape
    nby, nbx = hh // 8, ww // 8
    blocks = padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3) - 128.0
    coef = np.einsum("ij,nmjk,lk->nmil", _DCT, blocks, _DCT)
    q = np.round(coef / quant).astype(np.int32)
    zz = q.reshape(nby, nbx, 64)[:, :, _ZZ_FLAT]

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    ncomp = 3 if color else 1
    out = bytearray(b"\xff\xd8")                                    # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if exif_orientation:
        # minimal Exif: little-endian TIFF header + a 1-entry IFD0 (tag 274
        # SHORT) + zero next-IFD pointer
        ifd = ((1).to_bytes(2, "little")
               + (274).to_bytes(2, "little") + (3).to_bytes(2, "little")
               + (1).to_bytes(4, "little")
               + exif_orientation.to_bytes(2, "little") + b"\x00\x00"
               + (0).to_bytes(4, "little"))
        out += _seg(0xE1, b"Exif\x00\x00" + b"II*\x00"
                    + (8).to_bytes(4, "little") + ifd)
    out += _seg(0xDB, bytes([0x00]) + bytes(
        int(quant.reshape(64)[_ZZ_FLAT][i]) for i in range(64)))    # DQT
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof.append(ncomp)
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, 0x11, 0x00])
    out += _seg(0xC0, bytes(sof))                                   # SOF0
    out += _seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))      # DRI
    sos = bytearray([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, bytes(sos))                                   # SOS

    bw = _BitWriter()
    # constant-128 chroma: level-shifted to 0 -> all-zero block
    zero_zz = np.zeros(64, dtype=np.int32)
    preds = [0] * ncomp
    rst = 0
    mcu = 0
    for by in range(nby):
        for bx in range(nbx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.pad_align()
                out += bw.out
                bw = _BitWriter()
                out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                preds = [0] * ncomp
            preds[0] = _encode_block(bw, zz[by, bx], preds[0],
                                     dc_codes, ac_codes)
            for c in range(1, ncomp):
                preds[c] = _encode_block(bw, zero_zz, preds[c],
                                         dc_codes, ac_codes)
            mcu += 1
    bw.pad_align()
    out += bw.out
    out += b"\xff\xd9"                                              # EOI
    return bytes(out)


def encode_cmyk_jpeg(cmyk: np.ndarray, quality: int = 90,
                     transform: int = 0) -> bytes:
    """uint8 HxWx4 TRUE ink coverage (C, M, Y, K) -> baseline Adobe
    4-component JPEG, 4:4:4. `transform` 0 stores inverted CMYK directly;
    2 stores YCCK (the forward YCbCr transform over the inverted CMY,
    inverted K passthrough) — the two shapes print-workflow JPEGs carry.
    Values are stored INVERTED (255 - ink) per the Adobe convention; the
    APP14 segment declares the transform. Fixture-side only: the decoder's
    4-component path is the product surface."""
    if cmyk.dtype != np.uint8 or cmyk.ndim != 3 or cmyk.shape[2] != 4:
        raise ValueError("encode_cmyk_jpeg expects HxWx4 uint8")
    if transform not in (0, 2, None):
        raise ValueError("transform must be 0 (CMYK), 2 (YCCK), or None "
                         "(no APP14: non-Adobe direct-ink CMYK)")
    h, w = cmyk.shape[:2]
    if transform is None:
        # non-Adobe convention: ink coverage stored DIRECT, no APP14
        stored = cmyk.astype(np.float64)
    else:
        stored = 255.0 - cmyk.astype(np.float64)       # Adobe inversion
    if transform == 2:
        r, g, b = stored[:, :, 0], stored[:, :, 1], stored[:, :, 2]
        yy = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [yy, cb, cr, stored[:, :, 3]]
    else:
        planes = [stored[:, :, i] for i in range(4)]
    quant = _scaled_quant(quality)
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    ph, pw = -h % 8, -w % 8
    zzs = []
    for plane in planes:
        padded = np.pad(np.clip(plane, 0.0, 255.0), ((0, ph), (0, pw)),
                        mode="edge")
        hh, ww = padded.shape
        nby, nbx = hh // 8, ww // 8
        blocks = padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3) - 128.0
        coef = np.einsum("ij,nmjk,lk->nmil", _DCT, blocks, _DCT)
        q = np.round(coef / quant).astype(np.int32)
        zzs.append(q.reshape(nby, nbx, 64)[:, :, _ZZ_FLAT])
    out = bytearray(b"\xff\xd8")                                    # SOI
    if transform is not None:
        # APP14 Adobe: version 100, zero flags, transform id (byte 11)
        out += _seg(0xEE, b"Adobe" + (100).to_bytes(2, "big")
                    + bytes(4) + bytes([transform]))
    out += _seg(0xDB, bytes([0x00]) + bytes(
        int(quant.reshape(64)[_ZZ_FLAT][i]) for i in range(64)))    # DQT
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof.append(4)
    for cid in range(1, 5):
        sof += bytes([cid, 0x11, 0x00])
    out += _seg(0xC0, bytes(sof))                                   # SOF0
    out += _seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    sos = bytearray([4])
    for cid in range(1, 5):
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, bytes(sos))                                   # SOS
    bw = _BitWriter()
    preds = [0, 0, 0, 0]
    nby, nbx = zzs[0].shape[:2]
    for by in range(nby):
        for bx in range(nbx):
            for c in range(4):
                preds[c] = _encode_block(bw, zzs[c][by, bx], preds[c],
                                         dc_codes, ac_codes)
    bw.pad_align()
    out += bw.out
    out += b"\xff\xd9"                                              # EOI
    return bytes(out)


# ---------------------------------------------- progressive encoder side

_DEFAULT_SCRIPT = [
    # (Ss, Se, Ah, Al) — libjpeg's standard successive-approximation shape
    (0, 0, 0, 1),     # DC first, point transform 1
    (1, 5, 0, 2),     # AC low band first
    (6, 63, 0, 2),    # AC high band first
    (1, 63, 2, 1),    # AC refine to Al=1
    (1, 63, 1, 0),    # AC refine to Al=0
    (0, 0, 1, 0),     # DC refine
]


def _enc_ac_first(bw: _BitWriter, zz: np.ndarray, ss: int, se: int,
                  al: int, ac_codes) -> None:
    """One block of an AC-first scan. EOB runs are flushed per block
    (EOB0 = symbol 0x00), so the Annex-K tables suffice — EOBn>0 symbols
    are not in the standard table."""
    r = 0
    for k in range(ss, se + 1):
        t = int(zz[k])
        a = abs(t) >> al
        if a == 0:
            r += 1
            continue
        while r > 15:
            code, ln = ac_codes[0xF0]               # ZRL
            bw.put(code, ln)
            r -= 16
        s = a.bit_length()
        code, ln = ac_codes[(r << 4) | s]
        bw.put(code, ln)
        bw.put(a if t >= 0 else (a ^ ((1 << s) - 1)), s)
        r = 0
    if r > 0:
        code, ln = ac_codes[0x00]                   # EOB (run of 1)
        bw.put(code, ln)


def _enc_ac_refine(bw: _BitWriter, zz: np.ndarray, ss: int, se: int,
                   al: int, ac_codes) -> None:
    """One block of an AC-refinement scan (jcphuff-style): newly
    significant coefficients emit (run|1)+sign, history coefficients emit
    buffered correction bits, trailing state folds into a per-block EOB."""
    absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    eob = -1
    for i, a in enumerate(absv):
        if a == 1:
            eob = i
    r = 0
    pending: list[int] = []
    for i, a in enumerate(absv):
        k = ss + i
        if a == 0:
            r += 1
            continue
        while r > 15 and i <= eob:
            code, ln = ac_codes[0xF0]               # ZRL
            bw.put(code, ln)
            r -= 16
            for b in pending:
                bw.put(b, 1)
            pending = []
        if a > 1:                                   # history: correction bit
            pending.append(a & 1)
            continue
        code, ln = ac_codes[(r << 4) | 1]           # newly significant
        bw.put(code, ln)
        bw.put(1 if int(zz[k]) >= 0 else 0, 1)
        for b in pending:
            bw.put(b, 1)
        pending = []
        r = 0
    if r > 0 or pending:
        code, ln = ac_codes[0x00]                   # EOB carries the rest
        bw.put(code, ln)
        for b in pending:
            bw.put(b, 1)


def encode_progressive_jpeg(img: np.ndarray, quality: int = 90,
                            color: bool = False,
                            script: list[tuple] | None = None) -> bytes:
    """uint8 HxW -> progressive (SOF2) JFIF bytes, spectral selection +
    successive approximation per `script` [(Ss, Se, Ah, Al), ...]. With
    `color`, DC scans interleave three 4:4:4 components and every AC scan
    is emitted per component (constant-128 chroma → all-zero blocks), so
    the decoder's skip-non-luma-scan path sees real scans to skip."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    quant = _scaled_quant(quality)
    ph, pw = -h % 8, -w % 8
    padded = np.pad(img, ((0, ph), (0, pw)), mode="edge").astype(np.float64)
    hh, ww = padded.shape
    nby, nbx = hh // 8, ww // 8
    blocks = padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3) - 128.0
    coef = np.einsum("ij,nmjk,lk->nmil", _DCT, blocks, _DCT)
    q = np.round(coef / quant).astype(np.int32)
    zz = q.reshape(nby, nbx, 64)[:, :, _ZZ_FLAT].reshape(-1, 64)

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    script = list(_DEFAULT_SCRIPT if script is None else script)
    ncomp = 3 if color else 1

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0x00]) + bytes(
        int(quant.reshape(64)[_ZZ_FLAT][i]) for i in range(64)))
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof.append(ncomp)
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, 0x11, 0x00])
    out += _seg(0xC2, bytes(sof))                                   # SOF2
    out += _seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))

    zero = np.zeros(64, dtype=np.int32)

    def sos(comp_ids: list[int], ss, se, ah, al) -> bytes:
        hdr = bytearray([len(comp_ids)])
        for cid in comp_ids:
            hdr += bytes([cid, 0x00])
        hdr += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, bytes(hdr))

    for ss, se, ah, al in script:
        bw = _BitWriter()
        if ss == 0:                                 # DC scan (interleaved)
            out += sos(list(range(1, ncomp + 1)), ss, se, ah, al)
            preds = [0] * ncomp
            for b in range(len(zz)):
                for c in range(ncomp):
                    blk = zz[b] if c == 0 else zero
                    if ah == 0:                     # DC first
                        v = int(blk[0]) >> al
                        diff = v - preds[c]
                        preds[c] = v
                        s = abs(diff).bit_length()
                        code, ln = dc_codes[s]
                        bw.put(code, ln)
                        if s:
                            bw.put(diff if diff >= 0
                                   else diff + (1 << s) - 1, s)
                    else:                           # DC refine
                        bw.put((int(blk[0]) >> al) & 1, 1)
            bw.pad_align()
            out += bw.out
        else:                                       # AC scans: per component
            for c in range(ncomp):
                bw = _BitWriter()
                out += sos([c + 1], ss, se, ah, al)
                for b in range(len(zz)):
                    blk = zz[b] if c == 0 else zero
                    if ah == 0:
                        _enc_ac_first(bw, blk, ss, se, al, ac_codes)
                    else:
                        _enc_ac_refine(bw, blk, ss, se, al, ac_codes)
                bw.pad_align()
                out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


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
        # the family's integer luma idiom ((...+128)>>8, like png/webp) —
        # identical gray for identical RGB across every codec
        img = ((77 * ri + 150 * gi + 29 * bi + 128) >> 8).astype(np.uint8)
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
