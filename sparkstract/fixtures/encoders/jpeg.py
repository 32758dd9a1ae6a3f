"""JPEG mirror encoders (fixture side) for functions/jpeg.py.

- encode (fixture side): baseline grayscale with the Annex-K luminance
  quantization table scaled by `quality` (libjpeg's 5000/q | 200-2q
  formula) and the Annex-K standard Huffman tables; optional 4:4:4 color
  mode (constant chroma) and restart intervals exist solely so the
  decoder's multi-component and RST paths are testable in-container.
  `encode_progressive_jpeg` emits a real multi-scan SOF2 stream
  (spectral selection + successive approximation, EOB runs flushed per
  block so the Annex-K tables suffice) for the progressive decode path.
"""

from __future__ import annotations

import numpy as np

from ...functions.jpeg import _DCT, _ZZ_FLAT, _huff_codes


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


def _scaled_quant(quality: int) -> np.ndarray:
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    tbl = (_QUANT_LUM * scale + 50) // 100
    return np.clip(tbl, 1, 255).astype(np.int32)


_DC_CODES = _huff_codes(_DC_BITS, _DC_VALS)


_AC_CODES = _huff_codes(_AC_BITS, _AC_VALS)


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
                                     _DC_CODES, _AC_CODES)
            for c in range(1, ncomp):
                preds[c] = _encode_block(bw, zero_zz, preds[c],
                                         _DC_CODES, _AC_CODES)
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
                                         _DC_CODES, _AC_CODES)
    bw.pad_align()
    out += bw.out
    out += b"\xff\xd9"                                              # EOI
    return bytes(out)


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
                        code, ln = _DC_CODES[s]
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
                        _enc_ac_first(bw, blk, ss, se, al, _AC_CODES)
                    else:
                        _enc_ac_refine(bw, blk, ss, se, al, _AC_CODES)
                bw.pad_align()
                out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
