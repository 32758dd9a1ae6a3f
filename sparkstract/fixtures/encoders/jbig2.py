"""JBIG2 mirror encoders (fixture side) for functions/jbig2.py.

The fixture encoders emit the same organizations (page info + immediate
generic regions + end-of-page; page info + symbol dictionary in
/JBIG2Globals + immediate text region in-stream) so PDF fixtures
roundtrip bit-exactly on two-level ink, like the CCITT families.
"""

from __future__ import annotations

import numpy as np

from ...functions.bits import MsbWriter
from ...functions.jbig2 import (
    _CTX_BITS, _NOMINAL_AT, _PrefixCode, _REF_NOMINAL_AT, _STD_TABLES,
    _TPGDON_CTX, _T_END_OF_PAGE, _T_PAGE_INFO, _T_PATTERN, _T_SYMBOL_DICT,
    _bank, _refinement_context, _resolve_slots,
)
from .ccitt import g4_encode
from .jp2 import MQEncoder


def _encode_generic(enc: MQEncoder, cxs: list, bits: np.ndarray,
                    template: int, at: tuple, tpgdon: bool) -> None:
    """Mirror of _decode_generic (runs once at fixture-build time, so the
    general per-pixel path is enough)."""
    h, w = bits.shape
    offs = _resolve_slots(template, at)
    pad = max(8, max(abs(dx) for dx, _ in offs) + 1)
    rw = w + 2 * pad
    zero = [0] * rw
    depth = max(-dy for _, dy in offs)
    hist = [zero] * depth
    tctx = cxs[_TPGDON_CTX[template]]
    ltp = 0
    prev: list[int] | None = None
    for y in range(h):
        row = [0] * pad + [int(v) for v in bits[y]] + [0] * pad
        if tpgdon:
            typical = row == (prev if prev is not None else zero)
            enc.encode(ltp ^ typical, tctx)
            ltp = typical
            if ltp:
                prev = row
                if depth:
                    hist = [row] + hist[:-1]
                continue
        rows = [row] + hist
        for x in range(w):
            ctx = 0
            for dx, dy in offs:
                ctx = (ctx << 1) | rows[-dy][pad + x + dx]
            enc.encode(row[pad + x], cxs[ctx])
        prev = row
        if depth:
            hist = [row] + hist[:-1]


def _int_encode(enc: MQEncoder, bank: list, value: int | None) -> None:
    prev = 1

    def bit(b: int) -> None:
        nonlocal prev
        enc.encode(b, bank[prev])
        prev = ((prev << 1) | b) if prev < 256 else \
            (((((prev << 1) | b) & 511) | 256))

    if value is None:                      # OOB = sign 1, magnitude 0
        bit(1)
        bit(0)
        bit(0)
        bit(0)
        return
    s = 1 if value < 0 else 0
    v = -value if value < 0 else value
    bit(s)
    for bound, n, off, prefix in ((4, 2, 0, (0,)),
                                  (20, 4, 4, (1, 0)),
                                  (84, 6, 20, (1, 1, 0)),
                                  (340, 8, 84, (1, 1, 1, 0)),
                                  (4436, 12, 340, (1, 1, 1, 1, 0)),
                                  (None, 32, 4436, (1, 1, 1, 1, 1))):
        if bound is None or v < bound:
            for p in prefix:
                bit(p)
            d = v - off
            for i in range(n - 1, -1, -1):
                bit((d >> i) & 1)
            return


def _iaid_encode(enc: MQEncoder, bank: list, value: int,
                 codelen: int) -> None:
    prev = 1
    for i in range(codelen - 1, -1, -1):
        b = (value >> i) & 1
        enc.encode(b, bank[prev])
        prev = (prev << 1) | b


def _encode_refinement(enc: MQEncoder, cxs: list, bits: np.ndarray,
                       template: int, at: tuple, ref: np.ndarray,
                       dx: int, dy: int) -> None:
    h, w = bits.shape
    for y in range(h):
        for x in range(w):
            ctx = _refinement_context(bits, ref, x, y, dx, dy, template, at)
            enc.encode(int(bits[y, x]), cxs[ctx])


def _segment_header(number: int, seg_type: int, page: int,
                    length: int, refs: list[int] | None = None) -> bytes:
    refs = refs or []
    out = number.to_bytes(4, "big")
    out += bytes([seg_type & 0x3F])          # 1-byte page association
    out += bytes([len(refs) << 5])           # short form, retain bits 0
    ref_size = 1 if number <= 256 else (2 if number <= 65536 else 4)
    for r in refs:
        out += r.to_bytes(ref_size, "big")
    out += bytes([page])
    out += length.to_bytes(4, "big")
    return out


def _page_info_segment(w: int, h: int) -> bytes:
    page_info = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
                 + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
                 + bytes([0]) + (0).to_bytes(2, "big"))
    return _segment_header(0, _T_PAGE_INFO, 1, len(page_info)) + page_info


def encode_jbig2(bits: np.ndarray, stripes: int = 1, coder: str = "mmr",
                 template: int = 0, tpgdon: bool = False) -> bytes:
    """Bilevel HxW (1 = black) -> embedded JBIG2 stream: page info +
    `stripes` immediate lossless generic regions (stacked bands, OR
    composition — exercises region placement) + end-of-page. `coder` is
    "mmr" (T.6 data) or "arith" (MQ, GB `template` 0-3, optional
    TPGDON typical-prediction rows)."""
    h, w = bits.shape
    out = bytearray()
    out += _page_info_segment(w, h)
    band = (h + stripes - 1) // stripes
    seg_n = 1
    for i in range(stripes):
        y0 = i * band
        sub = bits[y0:min(y0 + band, h)]
        if not sub.size:
            break
        if coder == "mmr":
            coded = bytes([0x01]) + g4_encode(sub)       # flags: MMR=1
        else:
            at = _NOMINAL_AT[template]
            enc = MQEncoder()
            cxs = _bank(1 << _CTX_BITS[template])
            _encode_generic(enc, cxs, sub, template, at, tpgdon)
            gflags = (template << 1) | (0x08 if tpgdon else 0)
            atb = b"".join(bytes([dx & 0xFF, dy & 0xFF]) for dx, dy in at)
            coded = bytes([gflags]) + atb + enc.flush()
        body = (w.to_bytes(4, "big") + sub.shape[0].to_bytes(4, "big")
                + (0).to_bytes(4, "big") + y0.to_bytes(4, "big")
                + bytes([0])              # external combination op OR
                + coded)
        out += _segment_header(seg_n, 39, 1, len(body)) + body
        seg_n += 1
    out += _segment_header(seg_n, _T_END_OF_PAGE, 1, 0)
    return bytes(out)


def _encode_symbol_dict(number: int, syms: list) -> bytes:
    """Arithmetic symbol dictionary segment: height classes ascending,
    widths ascending inside each class, all new symbols exported."""
    at = _NOMINAL_AT[0]
    enc = MQEncoder()
    iadh, iadw, iaex = _bank(512), _bank(512), _bank(512)
    gcx = _bank(1 << _CTX_BITS[0])
    hcheight = 0
    i = 0
    while i < len(syms):
        h = syms[i].shape[0]
        _int_encode(enc, iadh, h - hcheight)
        hcheight = h
        symwidth = 0
        while i < len(syms) and syms[i].shape[0] == h:
            w = syms[i].shape[1]
            _int_encode(enc, iadw, w - symwidth)
            symwidth = w
            _encode_generic(enc, gcx, syms[i], 0, at, False)
            i += 1
        _int_encode(enc, iadw, None)                     # OOB ends class
    _int_encode(enc, iaex, 0)                            # no unexported run
    _int_encode(enc, iaex, len(syms))                    # export all
    atb = b"".join(bytes([dx & 0xFF, dy & 0xFF]) for dx, dy in at)
    body = ((0).to_bytes(2, "big")                       # flags: arith, T0
            + atb
            + len(syms).to_bytes(4, "big")               # SDNUMEXSYMS
            + len(syms).to_bytes(4, "big")               # SDNUMNEWSYMS
            + enc.flush())
    return _segment_header(number, _T_SYMBOL_DICT, 1, len(body)) + body


def _encode_text_region(number: int, dict_seg: int, w: int, h: int,
                        syms: list, instances: list,
                        refcorner: int = 1, transposed: int = 0) -> bytes:
    """Immediate text region segment (type 6). `instances` is a list of
    (symbol_id, x_left, y_top) placements — or (symbol_id, x, y, bitmap)
    for a REFINED instance whose actual ink differs from the dictionary
    symbol (SBREFINE, §6.4.11); strips of 1."""
    codelen = max(1, (len(syms) - 1).bit_length())
    refine = any(len(it) > 3 and it[3] is not None for it in instances)
    enc = MQEncoder()
    iadt, iafs, iads = _bank(512), _bank(512), _bank(512)
    iaid = _bank(1 << (codelen + 1))
    iari = _bank(512)
    iard = [_bank(512) for _ in range(4)]
    rcxs = _bank(1 << 13)

    def inst_bitmap(it):
        if len(it) > 3 and it[3] is not None:
            return it[3]
        return syms[it[0]]

    # group into strips: non-transposed strips share y, transposed share x
    def strip_key(it):
        sh, sw = inst_bitmap(it).shape
        if not transposed:
            return it[2] + (sh - 1 if refcorner in (0, 2) else 0)
        return it[1] + (sw - 1 if refcorner in (2, 3) else 0)

    def s_coord(it):
        # the S chain tracks the leading (left/top) edge at entry for ALL
        # corners — the decoder pre-advances CURS for trailing corners
        return it[2] if transposed else it[1]

    order = sorted(instances, key=lambda it: (strip_key(it), s_coord(it)))
    _int_encode(enc, iadt, 0)                            # STRIPT = 0
    prev_t = 0
    firsts = 0
    k = 0
    while k < len(order):
        t = strip_key(order[k])
        _int_encode(enc, iadt, t - prev_t)
        prev_t = t
        first = True
        curs = 0
        while k < len(order) and strip_key(order[k]) == t:
            it = order[k]
            sid = it[0]
            s = s_coord(it)
            if first:
                _int_encode(enc, iafs, s - firsts)
                firsts = s
                first = False
            else:
                _int_encode(enc, iads, s - curs)
            _iaid_encode(enc, iaid, sid, codelen)
            if refine:
                bm = it[3] if len(it) > 3 else None
                if bm is None:
                    _int_encode(enc, iari, 0)
                else:
                    _int_encode(enc, iari, 1)
                    base = syms[sid]
                    rdw = bm.shape[1] - base.shape[1]
                    rdh = bm.shape[0] - base.shape[0]
                    for bank, v in zip(iard, (rdw, rdh, 0, 0)):
                        _int_encode(enc, bank, v)
                    _encode_refinement(enc, rcxs, bm, 0, _REF_NOMINAL_AT,
                                       base, rdw >> 1, rdh >> 1)
            bmh, bmw = inst_bitmap(it).shape
            curs = s + ((bmh if transposed else bmw) - 1)
            k += 1
        _int_encode(enc, iads, None)                     # OOB ends strip
    flags = (refcorner << 4) | (transposed << 6)         # arith, strips=1
    if refine:
        flags |= 0x02                                    # SBRTEMPLATE 0
    rat = (b"".join(bytes([dx & 0xFF, dy & 0xFF])
                    for dx, dy in _REF_NOMINAL_AT) if refine else b"")
    body = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
            + bytes([0])                                 # region op OR
            + flags.to_bytes(2, "big")
            + rat
            + len(order).to_bytes(4, "big")
            + enc.flush())
    return _segment_header(number, 6, 1, len(body), refs=[dict_seg]) + body


def _encode_symbol_dict_refagg(number: int, input_syms: list,
                               new_specs: list,
                               ref_seg: int) -> bytes:
    """Aggregate (SDREFAGG=1) symbol dictionary: every new symbol is a
    single-instance REFINEMENT of an earlier symbol — `new_specs` is a
    (base_global_index, bitmap) list, bases indexing input_syms + the
    new symbols so far. Exports input + new symbols."""
    order = sorted(range(len(new_specs)),
                   key=lambda i: (new_specs[i][1].shape[0],
                                  new_specs[i][1].shape[1]))
    specs = [new_specs[i] for i in order]
    enc = MQEncoder()
    iadh, iadw, iaex = _bank(512), _bank(512), _bank(512)
    iaai = _bank(512)
    iard = [_bank(512) for _ in range(2)]
    rcxs = _bank(1 << 13)
    n_total = len(input_syms) + len(specs)
    agg_codelen = max(1, (n_total - 1).bit_length())
    iaid_agg = _bank(1 << (agg_codelen + 1))
    decoded = list(input_syms)
    hcheight = 0
    i = 0
    while i < len(specs):
        h = specs[i][1].shape[0]
        _int_encode(enc, iadh, h - hcheight)
        hcheight = h
        symwidth = 0
        while i < len(specs) and specs[i][1].shape[0] == h:
            base_idx, bm = specs[i]
            _int_encode(enc, iadw, bm.shape[1] - symwidth)
            symwidth = bm.shape[1]
            _int_encode(enc, iaai, 1)
            _iaid_encode(enc, iaid_agg, base_idx, agg_codelen)
            _int_encode(enc, iard[0], 0)
            _int_encode(enc, iard[1], 0)
            _encode_refinement(enc, rcxs, bm, 0, _REF_NOMINAL_AT,
                               decoded[base_idx], 0, 0)
            decoded.append(bm)
            i += 1
        _int_encode(enc, iadw, None)
    _int_encode(enc, iaex, 0)
    _int_encode(enc, iaex, n_total)                  # export everything
    at = _NOMINAL_AT[0]
    atb = b"".join(bytes([dx & 0xFF, dy & 0xFF]) for dx, dy in at)
    ratb = b"".join(bytes([dx & 0xFF, dy & 0xFF])
                    for dx, dy in _REF_NOMINAL_AT)
    body = ((0x02).to_bytes(2, "big")                # SDREFAGG, T0, RT0
            + atb + ratb
            + n_total.to_bytes(4, "big")             # SDNUMEXSYMS
            + len(specs).to_bytes(4, "big")          # SDNUMNEWSYMS
            + enc.flush())
    return _segment_header(number, _T_SYMBOL_DICT, 1, len(body),
                           refs=[ref_seg]) + body


def _encode_symbol_dict_huffman(number: int, syms: list,
                                collective: str = "mmr") -> bytes:
    """Huffman symbol dictionary segment (SDHUFF=1, selectors 0: DH=B.4,
    DW=B.2, BMSIZE=B.1): height classes ascending with their symbols
    shipped as one collective bitmap each — MMR-coded or uncompressed
    (BMSIZE=0) per `collective`."""
    dh, dw = _STD_TABLES["B4"], _STD_TABLES["B2"]
    b1 = _STD_TABLES["B1"]
    bw = MsbWriter()
    hcheight = 0
    i = 0
    while i < len(syms):
        h = syms[i].shape[0]
        dh.encode(bw, h - hcheight)
        hcheight = h
        symwidth = 0
        cls = []
        while i < len(syms) and syms[i].shape[0] == h:
            w = syms[i].shape[1]
            dw.encode(bw, w - symwidth)
            symwidth = w
            cls.append(syms[i])
            i += 1
        dw.encode(bw, None)                     # OOB ends the class
        coll = np.concatenate(cls, axis=1)
        if collective == "mmr":
            coded = g4_encode(coll)
            b1.encode(bw, len(coded))
            bw.put_aligned(coded)
        else:                                   # uncompressed, row-padded
            b1.encode(bw, 0)
            bw.put_aligned(np.packbits(coll, axis=1).tobytes())
    b1.encode(bw, 0)                            # no unexported run
    b1.encode(bw, len(syms))                    # export all
    body = ((0x01).to_bytes(2, "big")           # flags: SDHUFF, selectors 0
            + len(syms).to_bytes(4, "big")
            + len(syms).to_bytes(4, "big")
            + bw.bytes())
    return _segment_header(number, _T_SYMBOL_DICT, 1, len(body)) + body


def _encode_text_region_huffman(number: int, dict_seg: int, w: int, h: int,
                                syms: list, instances: list,
                                refcorner: int = 1,
                                transposed: int = 0) -> bytes:
    """Immediate text region segment, Huffman organization (FS=B.6,
    DS=B.8, DT=B.11, strips of 1). The symbol ID code assigns every
    symbol the same length ceil(log2(n)) via a single run-code."""
    n = len(syms)
    fs, ds, dt = _STD_TABLES["B6"], _STD_TABLES["B8"], _STD_TABLES["B11"]
    bw = MsbWriter()
    # §7.4.3.1.7 symbol ID code: one runcode (the shared length L) with a
    # 1-bit prefix; n occurrences of it spell the per-symbol lengths
    sym_len = max(1, (n - 1).bit_length())
    runlens = [0] * 35
    runlens[sym_len] = 1
    for v in runlens:
        bw.write(v, 4)
    for _ in range(n):
        bw.write(0, 1)                          # the only runcode
    bw.align()
    idcode = _PrefixCode([sym_len] * n) if n > 1 else None

    def strip_key(it):
        sid, x, y = it
        sh, sw = syms[sid].shape
        if not transposed:
            return y + (sh - 1 if refcorner in (0, 2) else 0)
        return x + (sw - 1 if refcorner in (2, 3) else 0)

    def s_coord(it):
        sid, x, y = it
        return y if transposed else x

    order = sorted(instances, key=lambda it: (strip_key(it), s_coord(it)))
    # B.11's smallest codable value is 1, so STRIPT opens at -1 and the
    # first strip delta re-adds it
    dt.encode(bw, 1)
    prev_t = -1
    firsts = 0
    k = 0
    while k < len(order):
        t = strip_key(order[k])
        dt.encode(bw, t - prev_t)
        prev_t = t
        first = True
        curs = 0
        while k < len(order) and strip_key(order[k]) == t:
            sid, _x, _y = order[k]
            s = s_coord(order[k])
            if first:
                fs.encode(bw, s - firsts)
                firsts = s
                first = False
            else:
                ds.encode(bw, s - curs)
            if idcode is not None:
                code, ln = idcode.enc[sid]
                bw.write(code, ln)
            sh, sw = syms[sid].shape
            curs = s + ((sh if transposed else sw) - 1)
            k += 1
        ds.encode(bw, None)                     # OOB ends the strip
    flags = 0x01 | (refcorner << 4) | (transposed << 6)
    body = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
            + bytes([0])                        # region op OR
            + flags.to_bytes(2, "big")
            + (0).to_bytes(2, "big")            # huffflags: selectors 0
            + len(order).to_bytes(4, "big")
            + bw.bytes())
    return _segment_header(number, 6, 1, len(body), refs=[dict_seg]) + body


def encode_jbig2_refined(bits: np.ndarray, template: int = 0) -> bytes:
    """Bilevel HxW -> embedded stream exercising §6.3: a LOSSY first pass
    (the page with a checkerboard of its ink dropped, arithmetic generic
    region) followed by an immediate generic refinement region (type 43,
    REPLACE) that corrects it to `bits` exactly against the page content
    as reference — the progressive-transmission shape refinement exists
    for."""
    h, w = bits.shape
    yy, xx = np.mgrid[0:h, 0:w]
    base = (bits & ((yy + xx) % 2).astype(np.uint8))
    out = bytearray()
    out += _page_info_segment(w, h)
    enc = MQEncoder()
    cxs = _bank(1 << _CTX_BITS[0])
    _encode_generic(enc, cxs, base, 0, _NOMINAL_AT[0], False)
    atb = b"".join(bytes([dx & 0xFF, dy & 0xFF])
                   for dx, dy in _NOMINAL_AT[0])
    gbody = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
             + (0).to_bytes(8, "big") + bytes([0])      # op OR
             + bytes([0x00]) + atb + enc.flush())
    out += _segment_header(1, 39, 1, len(gbody)) + gbody
    renc = MQEncoder()
    rcxs = _bank(1 << (13 if template == 0 else 10))
    _encode_refinement(renc, rcxs, bits, template, _REF_NOMINAL_AT,
                       base, 0, 0)
    rat = (b"".join(bytes([dx & 0xFF, dy & 0xFF])
                    for dx, dy in _REF_NOMINAL_AT)
           if template == 0 else b"")
    rbody = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
             + (0).to_bytes(8, "big") + bytes([4])      # op REPLACE
             + bytes([template]) + rat + renc.flush())
    out += _segment_header(2, 43, 1, len(rbody)) + rbody
    out += _segment_header(3, _T_END_OF_PAGE, 1, 0)
    return bytes(out)


def encode_jbig2_halftone(gray: np.ndarray, hdpw: int = 4, hdph: int = 4,
                          levels: int = 17,
                          pattern_coder: str = "mmr") -> bytes:
    """uint8 HxW grayscale -> embedded JBIG2 stream rendering it as a
    HALFTONE: a clustered-dot pattern dictionary of `levels` density
    patterns (type 16, MMR or arithmetic collective bitmap) + an
    immediate halftone region (type 23) whose gray-code bitplanes are
    MQ-coded. The mirror of _decode_halftone_region; grid = one pattern
    cell per `hdpw` x `hdph` input block, HRX = hdpw<<8, HRY = 0."""
    h, w = gray.shape
    hgh, hgw = (h + hdph - 1) // hdph, (w + hdpw - 1) // hdpw
    # pattern k: the k darkest cells of a deterministic clustered-dot
    # order (spiral-ish fixed permutation of the cell)
    order = sorted(range(hdpw * hdph),
                   key=lambda i: ((i // hdpw - (hdph - 1) / 2) ** 2
                                  + (i % hdpw - (hdpw - 1) / 2) ** 2, i))
    pats = []
    for k in range(levels):
        p = np.zeros(hdpw * hdph, np.uint8)
        n_ink = round(k * hdpw * hdph / (levels - 1))
        p[order[:n_ink]] = 1
        pats.append(p.reshape(hdph, hdpw))
    coll = np.concatenate(pats, axis=1)
    if pattern_coder == "mmr":
        pd_body = (bytes([0x01, hdpw, hdph])
                   + (levels - 1).to_bytes(4, "big") + g4_encode(coll))
    else:
        template = 0
        at = ((-hdpw, 0), (-3, -1), (2, -2), (-2, -2))
        enc = MQEncoder()
        cxs = _bank(1 << _CTX_BITS[template])
        _encode_generic(enc, cxs, coll, template, at, False)
        pd_body = (bytes([0x00, hdpw, hdph])
                   + (levels - 1).to_bytes(4, "big") + enc.flush())
    # grayscale grid: block-mean -> inverted level (dark ink = high level)
    pad = np.full((hgh * hdph, hgw * hdpw), 255, np.uint8)
    pad[:h, :w] = gray
    blocks = pad.reshape(hgh, hdph, hgw, hdpw).astype(np.float64)
    mean = blocks.mean(axis=(1, 3))
    gi = np.rint((255.0 - mean) * (levels - 1) / 255.0).astype(np.int64)
    # gray-code planes, most significant first, one shared MQ coder
    bitcount = max(1, (levels - 1).bit_length())
    gcode = gi ^ (gi >> 1)
    enc = MQEncoder()
    cxs = _bank(1 << _CTX_BITS[0])
    for j in range(bitcount - 1, -1, -1):
        plane = ((gcode >> j) & 1).astype(np.uint8)
        _encode_generic(enc, cxs, plane, 0, _NOMINAL_AT[0], False)
    ht_body = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
               + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
               + bytes([0])                      # region op OR
               + bytes([0x00])                   # flags: arith, T0, OR
               + hgw.to_bytes(4, "big") + hgh.to_bytes(4, "big")
               + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
               + (hdpw << 8).to_bytes(2, "big") + (0).to_bytes(2, "big")
               + enc.flush())
    out = bytearray()
    out += _page_info_segment(w, h)
    out += _segment_header(1, _T_PATTERN, 1, len(pd_body)) + pd_body
    out += _segment_header(2, 23, 1, len(ht_body), refs=[1]) + ht_body
    out += _segment_header(3, _T_END_OF_PAGE, 1, 0)
    return bytes(out)


def encode_jbig2_text(bits: np.ndarray, refcorner: int = 1,
                      transposed: int = 0, coder: str = "arith",
                      collective: str = "mmr") -> tuple[bytes, bytes]:
    """Bilevel HxW -> (stream, globals): the dominant real-world scanned
    organization — the page's connected components deduplicated into a
    symbol dictionary (carried in /JBIG2Globals, like Acrobat writes
    shared dictionaries) and placed by an immediate text region
    in-stream. OR-composited ink crops reproduce the page bit-exactly.
    `coder` picks the organization: "arith" (MQ) or "huffman" (standard
    Annex-B tables, `collective` = "mmr"|"raw" height-class bitmaps).
    Falls back to a generic region when the page has no ink."""
    from ...functions.cclabel import label_blobs

    h, w = bits.shape
    blobs = label_blobs(bits.astype(bool))
    if len(blobs) == 0:
        full = encode_jbig2(bits, coder="arith")
        split = 11 + 19                   # page-info header + body
        return full[split:], full[:split]
    uniq: dict[bytes, int] = {}
    sym_list: list[np.ndarray] = []
    instances: list[tuple[int, int, int]] = []
    for i in range(len(blobs)):
        t, b = int(blobs.top[i]), int(blobs.bottom[i])
        l, r = int(blobs.left[i]), int(blobs.right[i])
        crop = np.ascontiguousarray(bits[t:b + 1, l:r + 1])
        key = crop.shape[1].to_bytes(4, "big") + crop.tobytes()
        sid = uniq.get(key)
        if sid is None:
            sid = len(sym_list)
            uniq[key] = sid
            sym_list.append(crop)
        instances.append((sid, l, t))
    # decode order is (height, width) ascending — remap ids to match
    perm = sorted(range(len(sym_list)),
                  key=lambda i: (sym_list[i].shape[0], sym_list[i].shape[1]))
    remap = {old: new for new, old in enumerate(perm)}
    syms = [sym_list[i] for i in perm]
    instances = [(remap[sid], x, y) for sid, x, y in instances]
    if coder == "huffman":
        glob = (_page_info_segment(w, h)
                + _encode_symbol_dict_huffman(1, syms, collective))
        stream = (_encode_text_region_huffman(2, 1, w, h, syms, instances,
                                              refcorner, transposed)
                  + _segment_header(3, _T_END_OF_PAGE, 1, 0))
    else:
        glob = _page_info_segment(w, h) + _encode_symbol_dict(1, syms)
        stream = (_encode_text_region(2, 1, w, h, syms, instances,
                                      refcorner, transposed)
                  + _segment_header(3, _T_END_OF_PAGE, 1, 0))
    return stream, glob
