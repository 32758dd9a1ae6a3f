"""Constant pack for the lossy VP8 key-frame codec (functions/vp8.py).

RFC 6386 defines VP8 as algorithms PLUS ~3,300 constant table entries
(entropy-probability and quantizer packs). No copy of the RFC's table
listings and no independent VP8 implementation exists in this container
(verified: the reference repo links Leptonica at runtime and vendors no
codec), so the pack is split by provenance, entry by entry:

- ``[SPEC]`` — transcribed from the public spec with high confidence:
  tree shapes, token semantics, zigzag order, coefficient bands,
  category base values / extra-bit probabilities, transform constants,
  mode-probability vectors.
- ``[PACK]`` — large probability / quantizer tables whose exact spec
  values are NOT reproducible in-container.  They are synthesized by the
  documented deterministic rules below, used SYMMETRICALLY by the
  fixture encoder (fixtures/encoders/vp8.py) and the decoder, and isolated in
  this module so the real RFC 6386 pack is a drop-in replacement (same
  names, same shapes, same dtypes) before pointing the decoder at
  externally-encoded files.  In-repo streams decode bit-exactly either
  way; an external libwebp-encoded stream needs the spec pack swapped in
  first (a mismatched probability desynchronises the arithmetic decoder,
  which surfaces as a range/size error, not silent wrong pixels, in the
  common case — decode_vp8's docstring repeats this).

Reference contract: the reference ingests every WebP flavour through
Leptonica's sniff (/root/reference/src/api/baseapi.cpp:881); lossy VP8 is
the majority of real crawl WebP, which is why this seam exists at all.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- tokens
# [SPEC] Coefficient-token alphabet.  12 leaves -> 11 internal nodes ->
# 11 probabilities per (block type, band, context) position.
DCT_0, DCT_1, DCT_2, DCT_3, DCT_4 = 0, 1, 2, 3, 4
CAT1, CAT2, CAT3, CAT4, CAT5, CAT6 = 5, 6, 7, 8, 9, 10
DCT_EOB = 11

# [SPEC] token tree (negative = leaf, positive = index of next pair).
TOKEN_TREE = (
    -DCT_EOB, 2,
    -DCT_0, 4,
    -DCT_1, 6,
    8, 12,
    -DCT_2, 10,
    -DCT_3, -DCT_4,
    14, 16,
    -CAT1, -CAT2,
    18, 20,
    -CAT3, -CAT4,
    -CAT5, -CAT6,
)

# [SPEC] category base values and extra-bit counts.
CAT_BASE = {CAT1: 5, CAT2: 7, CAT3: 11, CAT4: 19, CAT5: 35, CAT6: 67}
CAT_BITS = {CAT1: 1, CAT2: 2, CAT3: 3, CAT4: 4, CAT5: 5, CAT6: 11}

# [SPEC] per-bit probabilities for the category extra bits (MSB first).
CAT_PROBS = {
    CAT1: (159,),
    CAT2: (165, 145),
    CAT3: (173, 148, 140),
    CAT4: (176, 155, 140, 135),
    CAT5: (180, 157, 141, 134, 130),
    CAT6: (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
}

# [SPEC] coefficient-position -> probability band.
COEFF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)

# [SPEC] zigzag scan order (coded position -> natural 4x4 position).
ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

# ----------------------------------------------------------------- modes
# [SPEC] 16x16 / chroma intra modes and the 4x4 B_PRED sub-modes.
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
(B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU) = range(10)

# [SPEC] key-frame luma mode tree + probabilities.
KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROB = (145, 156, 163, 128)

# [SPEC] chroma mode tree + key-frame probabilities.
UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_MODE_PROB = (142, 114, 183)

# [SPEC] 4x4 sub-mode tree (10 leaves -> 9 probabilities per context).
BMODE_TREE = (
    -B_DC, 2,
    -B_TM, 4,
    -B_VE, 6,
    8, 12,
    -B_HE, 10,
    -B_RD, -B_VR,
    -B_LD, 14,
    -B_VL, 16,
    -B_HD, -B_HU,
)

# [SPEC] 16x16 mode -> implied sub-mode for B_PRED context purposes.
MODE_TO_BMODE = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}

# [SPEC] macroblock segment-id tree (3 probabilities from the header).
SEGMENT_TREE = (2, 4, -0, -1, -2, -3)


def _synth(shape: tuple[int, ...], lo: int, hi: int, stride: int) -> np.ndarray:
    """[PACK] deterministic synthesis rule: position-hashed values in
    [lo, hi].  Any value in [1, 255] is a VALID bool-coder probability —
    the choice affects compression ratio only, never decodability, as
    long as encoder and decoder share the pack (they import this same
    module)."""
    n = int(np.prod(shape))
    idx = np.arange(n, dtype=np.int64)
    vals = lo + (idx * stride + (idx * idx) % 97) % (hi - lo + 1)
    return vals.reshape(shape).astype(np.uint8)


# [PACK] kf 4x4 sub-mode probabilities, context = (above mode, left mode).
# Spec shape 10x10x9; synthesized per _synth (spec values unavailable).
KF_BMODE_PROB = _synth((10, 10, 9), 40, 215, 53)

# [PACK] default coefficient probabilities, shape (4 block types,
# 8 bands, 3 contexts, 11 nodes).  Node 0 (EOB-vs-rest) gets a lower
# value at context 0 so empty-block EOBs stay cheap — shape-plausible,
# not spec values.
DEFAULT_COEFF_PROBS = _synth((4, 8, 3, 11), 60, 230, 71)
DEFAULT_COEFF_PROBS[:, :, 0, 0] = 140
DEFAULT_COEFF_PROBS[:, :, :, 1] = 160   # zero-vs-rest

# [PACK] probabilities that gate per-position coefficient-probability
# updates in the frame header.  Spec values cluster near 255 (updates are
# rare); a flat 252 keeps the 1,056 "no update" flags cheap to code.
COEFF_UPDATE_PROBS = np.full((4, 8, 3, 11), 252, dtype=np.uint8)

# [PACK] quantizer lookup, index 0..127.  Spec tables are monotone ramps
# dc 4..157 / ac 4..284; synthesized as geometric ramps pinned to those
# remembered endpoints.
DC_QLOOKUP = np.round(4.0 * (157.0 / 4.0) ** (np.arange(128) / 127.0)
                      ).astype(np.int32)
AC_QLOOKUP = np.round(4.0 * (284.0 / 4.0) ** (np.arange(128) / 127.0)
                      ).astype(np.int32)
