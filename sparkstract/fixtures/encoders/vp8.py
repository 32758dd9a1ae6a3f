"""Lossy VP8 mirror encoder (fixture side) for functions/vp8.py.

It exists so the repo can test the
decoder without any external VP8 implementation (none is available in
the container): it makes the same table/recon choices as the decoder
by importing the same modules and sharing the same primitives, so
decode(encode(img)) is deterministic and the reconstruction the
encoder tracked in-loop equals the decoder's output bit for bit
(asserted in tests/test_vp8.py).
"""

from __future__ import annotations

import numpy as np

from ...functions import vp8_tables as T
from ...functions.vp8 import (
    _dequant_factors, _loop_filter, _padded_plane, _predict_b, _predict_block,
    _recon_chroma, _recon_mb, idct4x4, iwht4x4,
)


class _BoolWriter:
    """Mirror encoder: exact lower-bound arithmetic coder.  `low` is kept
    as an arbitrary-precision integer (the stream is small fixture data),
    which sidesteps carry propagation entirely; the emitted bytes are the
    binary expansion of the final lower bound."""

    __slots__ = ("low", "range", "shift")

    def __init__(self) -> None:
        self.low = 0
        self.range = 255
        self.shift = 0

    def write_bool(self, prob: int, bit: int) -> None:
        split = 1 + (((self.range - 1) * int(prob)) >> 8)
        if bit:
            self.low += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            self.low <<= 1
            self.shift += 1

    def literal(self, v: int, n: int) -> None:
        for b in range(n - 1, -1, -1):
            self.write_bool(128, (v >> b) & 1)

    def signed_literal(self, v: int, n: int) -> None:
        self.literal(abs(v), n)
        self.write_bool(128, 1 if v < 0 else 0)

    def flagged_signed(self, v: int, n: int) -> None:
        if v == 0:
            self.write_bool(128, 0)
        else:
            self.write_bool(128, 1)
            self.signed_literal(v, n)

    def tree(self, tree: tuple, probs, leaf: int, start: int = 0) -> None:
        for node, bit in _tree_path(tree, leaf, start):
            self.write_bool(probs[node >> 1], bit)

    def bytes(self) -> bytes:
        # low < 2^(shift+8) always (the interval never leaves [0,1)).
        total = self.shift + 8
        v = int(self.low)
        pad = (8 - total % 8) % 8
        v <<= pad
        total += pad
        out = v.to_bytes(total // 8, "big")
        return out + b"\x00" * max(0, 2 - len(out))


_TREE_PATHS: dict[tuple[int, int, int], list] = {}


def _tree_path(tree: tuple, leaf: int, start: int) -> list:
    """(node index, bit) steps that reach `leaf` — cached per tree."""
    key = (id(tree), leaf, start)
    hit = _TREE_PATHS.get(key)
    if hit is not None:
        return hit

    def walk(i: int, path: list) -> list | None:
        for bit in (0, 1):
            nxt = tree[i + bit]
            if nxt == -leaf and nxt <= 0:
                return path + [(i, bit)]
            if nxt > 0:
                r = walk(nxt, path + [(i, bit)])
                if r is not None:
                    return r
        return None

    path = walk(start, [])
    if path is None:
        raise ValueError(f"leaf {leaf} not in tree")
    _TREE_PATHS[key] = path
    return path


def _float_linear(map_fn, n: int) -> np.ndarray:
    """Probe an integer linear-ish transform on scaled basis vectors to
    recover its float matrix (rounding vanishes at large scale)."""
    scale = 1 << 16
    m = np.zeros((n, n))
    for i in range(n):
        e = np.zeros(n, dtype=np.int64)
        e[i] = scale
        if n == 16 and map_fn is idct4x4:
            m[:, i] = map_fn(e.reshape(1, 16)).reshape(16) / (scale / 8.0)
        else:
            m[:, i] = map_fn(e) / (scale / 8.0)
    return m


# forward transforms = inverse of the float-exact inverse maps; probing
# recovers M with idct(x) = (M x) >> 3, so the forward is 8 · M^-1.
_FDCT = np.linalg.inv(_float_linear(idct4x4, 16)) * 8.0


_FWHT = np.linalg.inv(_float_linear(iwht4x4, 16)) * 8.0


def fdct4x4(res: np.ndarray) -> np.ndarray:
    """(n, 4, 4) residuals -> (n, 16) float coefficients (fixture side)."""
    return res.reshape(-1, 16) @ _FDCT.T


def fwht4x4(dcs: np.ndarray) -> np.ndarray:
    """(16,) DC values -> (16,) float Y2 coefficients (fixture side)."""
    return _FWHT @ np.asarray(dcs, dtype=np.float64)


def _encode_coeffs(bw: _BoolWriter, probs: np.ndarray, btype: int,
                   first: int, ctx: int, coeffs: np.ndarray) -> int:
    """Mirror of _decode_coeffs for the fixture encoder."""
    tp = probs[btype]
    zz = [int(coeffs[T.ZIGZAG[n]]) for n in range(16)]
    last = first - 1   # empty block -> immediate EOB
    for n in range(first, 16):
        if zz[n]:
            last = n
    start = 0
    for n in range(first, last + 2):
        p = tp[T.COEFF_BANDS[n]][ctx] if n < 16 else None
        if n == last + 1:
            if n < 16:
                bw.tree(T.TOKEN_TREE, p, T.DCT_EOB, start)
            break
        v = zz[n]
        a = abs(v)
        if a == 0:
            bw.tree(T.TOKEN_TREE, p, T.DCT_0, start)
            ctx = 0
            start = 2
            continue
        if a <= 4:
            bw.tree(T.TOKEN_TREE, p, a, start)
        else:
            for tok in (T.CAT1, T.CAT2, T.CAT3, T.CAT4, T.CAT5, T.CAT6):
                hi = T.CAT_BASE[tok] + (1 << T.CAT_BITS[tok]) - 1
                if a <= hi:
                    break
            bw.tree(T.TOKEN_TREE, p, tok, start)
            extra = a - T.CAT_BASE[tok]
            for i, pb in enumerate(T.CAT_PROBS[tok]):
                bw.write_bool(pb, (extra >> (T.CAT_BITS[tok] - 1 - i)) & 1)
        bw.write_bool(128, 1 if v < 0 else 0)
        ctx = 1 if a == 1 else 2
        start = 0
    return 1 if last >= first else 0


_QMAX = 2114  # CAT6 ceiling: 67 + (1 << 11) - 1


def _quantize(coefs: np.ndarray, dcq: int, acq: int) -> np.ndarray:
    q = np.empty(16, np.int64)
    q[0] = round(float(coefs[0]) / dcq)
    q[1:] = np.round(coefs[1:] / acq)
    return np.clip(q, -_QMAX, _QMAX)


def _dequant(q: np.ndarray, dcq: int, acq: int) -> np.ndarray:
    d = q.copy()
    d[0] *= dcq
    d[1:] *= acq
    return d


def encode_gray_vp8(img: np.ndarray, qi: int = 8, filter_level: int = 8,
                    sharpness: int = 0, bpred_every: int = 7,
                    n_partitions: int = 1, allow_skip: bool = True,
                    simple_filter: bool = False,
                    return_recon: bool = False):
    """uint8 HxW -> VP8 key-frame payload bytes (no RIFF container).

    Y carries the image; U/V carry a mild deterministic texture so the
    chroma token/recon path is exercised (the luma-collapse output is
    unaffected).  With return_recon=True also returns the in-loop
    reconstruction AFTER loop filtering — the decoder's exact expected
    output."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    mb_w, mb_h = (w + 15) >> 4, (h + 15) >> 4
    yw, yh = mb_w * 16, mb_h * 16
    src = np.empty((yh, yw), np.int64)
    src[:h, :w] = img
    src[h:, :w] = img[h - 1:h, :]
    src[:, w:] = src[:, w - 1:w]
    ys, xs = np.mgrid[0:yh // 2, 0:yw // 2]
    usrc = 128 + ((xs // 16) % 5) - 2
    vsrc = 128 + ((ys // 16) % 5) - 2

    hd = {
        "colour_space": 0, "clamping": 0, "segmentation": 0,
        "update_map": 0, "segment_tree_probs": [255] * 3,
        "segment_qi": [0] * 4, "segment_lf": [0] * 4, "segment_abs": 0,
        "filter_type": 1 if simple_filter else 0,
        "filter_level": filter_level, "sharpness": sharpness,
        "lf_delta": 0, "ref_lf_deltas": [0] * 4,
        "mode_lf_deltas": [0] * 4, "n_partitions": n_partitions,
        "qi": qi,
        "deltas": {k: 0 for k in ("ydc", "y2dc", "y2ac", "uvdc", "uvac")},
        "mb_no_skip": 1 if allow_skip else 0, "skip_prob": 192,
    }
    q = _dequant_factors(qi, hd["deltas"])
    probs = T.DEFAULT_COEFF_PROBS

    y = _padded_plane(yh, yw)
    u = _padded_plane(yh // 2, yw // 2)
    v = _padded_plane(yh // 2, yw // 2)
    modes = {
        "ymode": np.zeros((mb_h, mb_w), np.int32),
        "uvmode": np.zeros((mb_h, mb_w), np.int32),
        "skip": np.zeros((mb_h, mb_w), np.int32),
        "seg": np.zeros((mb_h, mb_w), np.int32),
        "bmodes": np.zeros((mb_h, mb_w, 4, 4), np.int32),
    }
    mb_nz = np.zeros((mb_h, mb_w), np.int64)
    # one record per MB: (skip, ymode, bmodes, uvmode, token_ops) where
    # token_ops is the ordered [(btype, first, ctx_slot, qcoeffs)] list;
    # contexts are resolved in a second pass only if skip rewriting were
    # needed — they are final here because encode order == decode order.
    token_writers = [_BoolWriter() for _ in range(n_partitions)]
    above_nz = np.zeros((mb_w, 9), np.int64)
    above_sub = np.full((mb_w, 4), T.B_DC, np.int32)

    # The first partition is ONE arithmetic stream: header fields first,
    # then the per-MB mode records — so the header (all values known up
    # front) is written now and the MB loop appends to the same writer.
    mode_bw = _BoolWriter()
    mode_bw.write_bool(128, hd["colour_space"])
    mode_bw.write_bool(128, hd["clamping"])
    mode_bw.write_bool(128, hd["segmentation"])
    mode_bw.write_bool(128, hd["filter_type"])
    mode_bw.literal(hd["filter_level"], 6)
    mode_bw.literal(hd["sharpness"], 3)
    mode_bw.write_bool(128, hd["lf_delta"])
    mode_bw.literal({1: 0, 2: 1, 4: 2, 8: 3}[n_partitions], 2)
    mode_bw.literal(hd["qi"], 7)
    for k in ("ydc", "y2dc", "y2ac", "uvdc", "uvac"):
        mode_bw.flagged_signed(hd["deltas"][k], 4)
    mode_bw.write_bool(128, 1)                  # refresh_entropy
    up = T.COEFF_UPDATE_PROBS
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for n in range(11):
                    mode_bw.write_bool(int(up[t, b, c, n]), 0)
    mode_bw.write_bool(128, hd["mb_no_skip"])
    if hd["mb_no_skip"]:
        mode_bw.literal(hd["skip_prob"], 8)

    for my in range(mb_h):
        left_nz = np.zeros(9, np.int64)
        left_sub = np.full(4, T.B_DC, np.int32)
        tw = token_writers[my % n_partitions]
        for mx in range(mb_w):
            yy, xx = my * 16, mx * 16
            is_b = bpred_every > 0 and \
                (my * mb_w + mx) % bpred_every == bpred_every - 1
            blk = src[yy:yy + 16, xx:xx + 16]
            plan: list[tuple] = []   # (btype, first, slot, qcoefs)
            if not is_b:
                best, best_sad = T.DC_PRED, None
                for m in (T.DC_PRED, T.V_PRED, T.H_PRED, T.TM_PRED):
                    sad = int(np.abs(
                        _predict_block(y, yy, xx, 16, m) - blk).sum())
                    if best_sad is None or sad < best_sad:
                        best, best_sad = m, sad
                ymode = best
                modes["ymode"][my, mx] = ymode
                modes["bmodes"][my, mx, :, :] = T.MODE_TO_BMODE[ymode]
                pred = _predict_block(y, yy, xx, 16, ymode)
                res = blk - pred
                sub = res.reshape(4, 4, 4, 4).transpose(0, 2, 1, 3)
                cf = fdct4x4(sub.reshape(16, 4, 4))
                dcs = cf[:, 0].copy()
                y2q = _quantize(fwht4x4(dcs), q["y2dc"], q["y2ac"])
                qy = np.empty((16, 16), np.int64)
                for sb in range(16):
                    qc = _quantize(cf[sb], q["y1dc"], q["y1ac"])
                    qc[0] = 0
                    qy[sb] = qc
                plan.append((1, 0, ("y2",), y2q))
                for sb in range(16):
                    plan.append((0, 1, ("y", sb >> 2, sb & 3), qy[sb]))
            else:
                ymode = T.B_PRED
                modes["ymode"][my, mx] = ymode
                qy = np.empty((16, 16), np.int64)
                for sb in range(16):
                    r, c = sb >> 2, sb & 3
                    bm = (sb + mx + my) % 10
                    modes["bmodes"][my, mx, r, c] = bm
                    predb = _predict_b(y, yy + r * 4, xx + c * 4, bm,
                                       yy, yw)
                    resb = blk[r * 4:r * 4 + 4, c * 4:c * 4 + 4] - predb
                    qc = _quantize(fdct4x4(resb.reshape(1, 4, 4))[0],
                                   q["y1dc"], q["y1ac"])
                    qy[sb] = qc
                    # in-loop recon so later subblocks predict from it
                    d = _dequant(qc, q["y1dc"], q["y1ac"])
                    out = predb + idct4x4(d.reshape(1, 16))[0]
                    y[yy + r * 4 + 1:yy + r * 4 + 5,
                      xx + c * 4 + 1:xx + c * 4 + 5] = np.clip(out, 0, 255)
                    plan.append((3, 0, ("y", r, c), qy[sb]))
            # chroma: best of the four modes on U (shared with V, like a
            # cheap encoder would)
            cy, cx = my * 8, mx * 8
            ublk = usrc[cy:cy + 8, cx:cx + 8]
            vblk = vsrc[cy:cy + 8, cx:cx + 8]
            bestu, sadu = T.DC_PRED, None
            for m in (T.DC_PRED, T.V_PRED, T.H_PRED, T.TM_PRED):
                sad = int(np.abs(
                    _predict_block(u, cy, cx, 8, m) - ublk).sum())
                if sadu is None or sad < sadu:
                    bestu, sadu = m, sad
            uvmode = bestu
            modes["uvmode"][my, mx] = uvmode
            for pi, (plane, sblk) in enumerate(((u, ublk), (v, vblk))):
                predc = _predict_block(plane, cy, cx, 8, uvmode)
                resc = sblk - predc
                subc = resc.reshape(2, 4, 2, 4).transpose(0, 2, 1, 3)
                cfc = fdct4x4(subc.reshape(4, 4, 4))
                for sb in range(4):
                    qc = _quantize(cfc[sb], q["uvdc"], q["uvac"])
                    plan.append((2, 0, ("uv", pi, sb >> 1, sb & 1), qc))

            mb_skip = hd["mb_no_skip"] and \
                all(not p[3].any() for p in plan)
            modes["skip"][my, mx] = 1 if mb_skip else 0

            # ---- mode records (first partition, parse order)
            if hd["mb_no_skip"]:
                mode_bw.write_bool(hd["skip_prob"], 1 if mb_skip else 0)
            mode_bw.tree(T.KF_YMODE_TREE, T.KF_YMODE_PROB, ymode)
            if ymode == T.B_PRED:
                for r in range(4):
                    for c in range(4):
                        a = above_sub[mx, c] if r == 0 else \
                            modes["bmodes"][my, mx, r - 1, c]
                        lf = left_sub[r] if c == 0 else \
                            modes["bmodes"][my, mx, r, c - 1]
                        mode_bw.tree(T.BMODE_TREE,
                                     T.KF_BMODE_PROB[a, lf],
                                     int(modes["bmodes"][my, mx, r, c]))
            above_sub[mx] = modes["bmodes"][my, mx, 3, :]
            left_sub = modes["bmodes"][my, mx, :, 3].copy()
            mode_bw.tree(T.UV_MODE_TREE, T.KF_UV_MODE_PROB, uvmode)

            # ---- tokens + nz context + reconstruction
            coeffs = np.zeros((25, 16), np.int64)
            any_nz = 0
            if mb_skip:
                above_nz[mx, :8] = 0
                left_nz[:8] = 0
                if ymode != T.B_PRED:
                    above_nz[mx, 8] = 0
                    left_nz[8] = 0
            else:
                for btype, first, slot, qc in plan:
                    if slot[0] == "y2":
                        ctx = int(above_nz[mx, 8] + left_nz[8])
                        nz = _encode_coeffs(tw, probs, btype, first, ctx,
                                            qc)
                        above_nz[mx, 8] = left_nz[8] = nz
                        coeffs[24] = _dequant(qc, q["y2dc"], q["y2ac"])
                    elif slot[0] == "y":
                        _, r, c = slot
                        ctx = int(above_nz[mx, c] + left_nz[r])
                        nz = _encode_coeffs(tw, probs, btype, first, ctx,
                                            qc)
                        above_nz[mx, c] = left_nz[r] = nz
                        coeffs[r * 4 + c] = _dequant(qc, q["y1dc"],
                                                     q["y1ac"])
                    else:
                        _, pi, r, c = slot
                        k = 4 + pi * 2
                        ctx = int(above_nz[mx, k + c] + left_nz[k + r])
                        nz = _encode_coeffs(tw, probs, btype, first, ctx,
                                            qc)
                        above_nz[mx, k + c] = left_nz[k + r] = nz
                        coeffs[16 + pi * 4 + r * 2 + c] = \
                            _dequant(qc, q["uvdc"], q["uvac"])
                    any_nz |= nz
            mb_nz[my, mx] = any_nz
            # luma of B_PRED MBs was reconstructed in-loop above; redo
            # nothing there, but 16x16 luma + all chroma recon happens
            # here through the decoder's own _recon_mb path.
            if ymode != T.B_PRED:
                _recon_mb(y, u, v, my, mx, modes, coeffs, True, yw)
            else:
                _recon_chroma(u, v, my, mx, modes, coeffs)

    part1 = mode_bw.bytes()
    parts = [tw.bytes() for tw in token_writers]
    tag = (0 | (0 << 1) | (1 << 4) | (len(part1) << 5))
    head = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
    head += b"\x9d\x01\x2a"
    head += bytes((w & 0xFF, (w >> 8) & 0x3F))
    head += bytes((h & 0xFF, (h >> 8) & 0x3F))
    out = head + part1
    for p in parts[:-1]:
        out += len(p).to_bytes(3, "little")
    out += b"".join(parts)
    if return_recon:
        yf = y[1:, 1:yw + 1].copy()
        uf = u[1:, 1:yw // 2 + 1].copy()
        vf = v[1:, 1:yw // 2 + 1].copy()
        _loop_filter(yf, uf, vf, hd, modes, mb_nz)
        return out, yf[:h, :w].astype(np.uint8)
    return out


def encode_webp_vp8(img: np.ndarray, **kw) -> bytes:
    """uint8 HxW -> RIFF/WEBP container holding one lossy VP8 frame."""
    payload = encode_gray_vp8(img, **kw)
    if len(payload) & 1:
        payload += b"\x00"
    chunk = b"VP8 " + len(payload).to_bytes(4, "little") + payload
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def encode_webp_vp8x(img: np.ndarray, alpha: np.ndarray | None = None,
                     lossless: bool = False, exif: bytes = b"",
                     alpha_compressed: bool = False, alpha_filter: int = 0,
                     **kw) -> bytes:
    """uint8 HxW -> extended (VP8X) WEBP: optional ALPH chunk (raw or
    lossless-compressed, any container-spec filter) and EXIF chunk around
    a lossy VP8 (or lossless VP8L) image chunk."""
    h, w = img.shape
    flags = 0
    chunks = []
    if exif:
        flags |= 0x08
    if alpha is not None:
        flags |= 0x10
        from .webp import encode_alpha_body
        body = encode_alpha_body(alpha.astype(np.uint8),
                                 compressed=alpha_compressed,
                                 filt=alpha_filter)
        chunks.append((b"ALPH", body))
    if lossless:
        from .webp import encode_gray_webp
        inner = encode_gray_webp(img)
        # reuse the plain container's VP8L chunk body
        chunks.append((b"VP8L", inner[20:20 + int.from_bytes(
            inner[16:20], "little")]))
    else:
        chunks.append((b"VP8 ", encode_gray_vp8(img, **kw)))
    if exif:
        chunks.append((b"EXIF", exif))
    out = b"VP8X" + (10).to_bytes(4, "little")
    out += bytes([flags, 0, 0, 0])
    out += (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    for tag, body in chunks:
        if len(body) & 1:
            body = body + b"\x00"
        out += tag + len(body).to_bytes(4, "little") + body
    return b"RIFF" + (4 + len(out)).to_bytes(4, "little") + b"WEBP" + out


def encode_webp_anim(frames: list, offsets: list | None = None,
                     canvas: tuple | None = None,
                     bg: tuple = (255, 255, 255, 255),
                     alpha: np.ndarray | None = None, **kw) -> bytes:
    """Animated (VP8X+ANIM) WEBP: each uint8 HxW frame becomes an ANMF
    chunk holding a lossy VP8 key frame; the FIRST frame (optionally with
    a raw ALPH plane) is the still the decoder extracts. `offsets` are
    even (x, y) canvas placements; `bg` is the ANIM background BGRA."""
    offsets = offsets or [(0, 0)] * len(frames)
    cw = canvas[0] if canvas else max(
        x + f.shape[1] for f, (x, y) in zip(frames, offsets))
    ch = canvas[1] if canvas else max(
        y + f.shape[0] for f, (x, y) in zip(frames, offsets))
    out = b"VP8X" + (10).to_bytes(4, "little")
    out += bytes([0x02 | (0x10 if alpha is not None else 0), 0, 0, 0])
    out += (cw - 1).to_bytes(3, "little") + (ch - 1).to_bytes(3, "little")
    anim = bytes(bg) + (0).to_bytes(2, "little")       # BGRA + loop count
    out += b"ANIM" + len(anim).to_bytes(4, "little") + anim
    for i, (f, (x, y)) in enumerate(zip(frames, offsets)):
        fh, fw = f.shape
        sub = b""
        if i == 0 and alpha is not None:
            body = b"\x00" + alpha.astype(np.uint8).tobytes()
            sub += (b"ALPH" + len(body).to_bytes(4, "little") + body
                    + (b"\x00" if len(body) & 1 else b""))
        payload = encode_gray_vp8(f, **kw)
        if len(payload) & 1:
            payload += b"\x00"
        sub += b"VP8 " + len(payload).to_bytes(4, "little") + payload
        anmf = ((x // 2).to_bytes(3, "little")
                + (y // 2).to_bytes(3, "little")
                + (fw - 1).to_bytes(3, "little")
                + (fh - 1).to_bytes(3, "little")
                + (100).to_bytes(3, "little")          # duration ms
                + bytes([0])                           # blend/dispose
                + sub)
        if len(anmf) & 1:
            anmf += b"\x00"
        out += b"ANMF" + len(anmf).to_bytes(4, "little") + anmf
    return b"RIFF" + (4 + len(out)).to_bytes(4, "little") + b"WEBP" + out
