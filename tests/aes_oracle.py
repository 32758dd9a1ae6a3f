"""Pure-Python AES (FIPS 197) from scratch — the test oracle for the
OpenSSL seam in sparkstract/functions/aes.py.

Shape: the S-box is GENERATED from its definition (multiplicative
inverse in GF(2^8) + the affine transform), not transcribed; round keys
follow §5.2; the block transforms follow §5.1/§5.3 in the flat
column-major byte layout (index = row + 4*column).

`encrypt_cbc` is scalar Python over fused 32-bit T-tables (CBC
encryption is inherently sequential). `decrypt_cbc` is numpy-VECTORIZED
across blocks: CBC decryption has no inter-block dependency (each
plaintext = D(c_i) xor c_{i-1}), so a stream decrypts as array passes
(table lookups + xors), not a per-byte Python loop.

Its error messages and padding rules match the seam's, so
tests/test_aes.py can hold both to the FIPS 197 Appendix C known-answer
vectors and to each other.
"""

from __future__ import annotations

import numpy as np


def _gf_mul(a: int, b: int) -> int:
    """GF(2^8) multiply, reduction polynomial x^8+x^4+x^3+x+1 (0x11B)."""
    r = 0
    while b:
        if b & 1:
            r ^= a
        a <<= 1
        if a & 0x100:
            a ^= 0x11B
        b >>= 1
    return r


def _build_sbox() -> tuple[list[int], list[int]]:
    """§5.1.1: S-box = affine transform of the multiplicative inverse —
    generated from the definition via exp/log tables on generator 3."""
    exp = [0] * 255
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x = _gf_mul(x, 3)
    sbox = [0] * 256
    for a in range(256):
        inv = 0 if a == 0 else exp[(255 - log[a]) % 255]
        b, s = inv, inv
        for _ in range(4):
            b = ((b << 1) | (b >> 7)) & 0xFF
            s ^= b
        sbox[a] = s ^ 0x63
    inv_sbox = [0] * 256
    for a, s in enumerate(sbox):
        inv_sbox[s] = a
    return sbox, inv_sbox


_SBOX, _INV_SBOX = _build_sbox()

# GF-multiply lookup tables for MixColumns / InvMixColumns
_MUL = {m: [_gf_mul(x, m) for x in range(256)]
        for m in (2, 3, 9, 11, 13, 14)}

# numpy views for the vectorized decrypt path
_NP_INV_SBOX = np.array(_INV_SBOX, dtype=np.uint8)
_NP_MUL = {m: np.array(t, dtype=np.uint8) for m, t in _MUL.items()}

# 32-bit encryption T-tables: TEi[x] is S[x]'s MixColumns contribution
# when it arrives as the column's row-i byte (SubBytes+ShiftRows+
# MixColumns fused; words pack rows 0..3 big-endian)
def _build_te() -> tuple:
    te0, te1, te2, te3 = [], [], [], []
    for x in range(256):
        s = _SBOX[x]
        s2, s3 = _MUL[2][s], _MUL[3][s]
        te0.append((s2 << 24) | (s << 16) | (s << 8) | s3)
        te1.append((s3 << 24) | (s2 << 16) | (s << 8) | s)
        te2.append((s << 24) | (s3 << 16) | (s2 << 8) | s)
        te3.append((s << 24) | (s << 16) | (s3 << 8) | s2)
    return te0, te1, te2, te3


_TE = _build_te()

# flat-index permutations (index = row + 4*column)
_SHIFT = [(r + 4 * ((c + r) % 4)) for c in range(4) for r in range(4)]
_INV_SHIFT = [(r + 4 * ((c - r) % 4)) for c in range(4) for r in range(4)]
_NP_INV_SHIFT = np.array(_INV_SHIFT, dtype=np.int64)


def _expand_key(key: bytes) -> list[list[int]]:
    """§5.2 key expansion -> one 16-int list per round (Nr+1 rounds)."""
    nk = len(key) // 4
    if nk not in (4, 8) or len(key) % 4:
        raise ValueError("AES key must be 16 or 32 bytes")
    nr = nk + 6
    w = [list(key[4 * i:4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]                      # RotWord
            t = [_SBOX[b] for b in t]              # SubWord
            t[0] ^= rcon
            rcon = _gf_mul(rcon, 2)
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [sum((w[4 * r + c] for c in range(4)), [])
            for r in range(nr + 1)]


class AES:
    """One expanded key; block ops + CBC modes."""

    __slots__ = ("_rk", "_nr", "_np_rk", "_rkw")

    def __init__(self, key: bytes) -> None:
        self._rk = _expand_key(key)
        self._nr = len(self._rk) - 1
        self._np_rk = [np.array(rk, dtype=np.uint8) for rk in self._rk]
        self._rkw = [[int.from_bytes(bytes(rk[i:i + 4]), "big")
                      for i in range(0, 16, 4)] for rk in self._rk]

    # ------------------------------------------------ scalar block ops
    #
    # 32-bit T-table formulation (SubBytes+ShiftRows+MixColumns fused
    # into four 256-word lookups per column). Equality is pinned by the
    # FIPS 197 Appendix C vectors.

    def _encrypt_words(self, w0: int, w1: int, w2: int, w3: int) -> tuple:
        rkw = self._rkw
        rk = rkw[0]
        w0 ^= rk[0]
        w1 ^= rk[1]
        w2 ^= rk[2]
        w3 ^= rk[3]
        te0, te1, te2, te3 = _TE
        for rnd in range(1, self._nr):
            rk = rkw[rnd]
            n0 = (te0[w0 >> 24] ^ te1[(w1 >> 16) & 255]
                  ^ te2[(w2 >> 8) & 255] ^ te3[w3 & 255] ^ rk[0])
            n1 = (te0[w1 >> 24] ^ te1[(w2 >> 16) & 255]
                  ^ te2[(w3 >> 8) & 255] ^ te3[w0 & 255] ^ rk[1])
            n2 = (te0[w2 >> 24] ^ te1[(w3 >> 16) & 255]
                  ^ te2[(w0 >> 8) & 255] ^ te3[w1 & 255] ^ rk[2])
            n3 = (te0[w3 >> 24] ^ te1[(w0 >> 16) & 255]
                  ^ te2[(w1 >> 8) & 255] ^ te3[w2 & 255] ^ rk[3])
            w0, w1, w2, w3 = n0, n1, n2, n3
        rk = rkw[self._nr]
        sb = _SBOX
        return (
            ((sb[w0 >> 24] << 24) | (sb[(w1 >> 16) & 255] << 16)
             | (sb[(w2 >> 8) & 255] << 8) | sb[w3 & 255]) ^ rk[0],
            ((sb[w1 >> 24] << 24) | (sb[(w2 >> 16) & 255] << 16)
             | (sb[(w3 >> 8) & 255] << 8) | sb[w0 & 255]) ^ rk[1],
            ((sb[w2 >> 24] << 24) | (sb[(w3 >> 16) & 255] << 16)
             | (sb[(w0 >> 8) & 255] << 8) | sb[w1 & 255]) ^ rk[2],
            ((sb[w3 >> 24] << 24) | (sb[(w0 >> 16) & 255] << 16)
             | (sb[(w1 >> 8) & 255] << 8) | sb[w2 & 255]) ^ rk[3],
        )

    def encrypt_block(self, block: bytes) -> bytes:
        c = self._encrypt_words(
            int.from_bytes(block[0:4], "big"),
            int.from_bytes(block[4:8], "big"),
            int.from_bytes(block[8:12], "big"),
            int.from_bytes(block[12:16], "big"))
        return b"".join(w.to_bytes(4, "big") for w in c)

    def decrypt_block(self, block: bytes) -> bytes:
        return bytes(self._decrypt_blocks(
            np.frombuffer(block, dtype=np.uint8).reshape(1, 16))[0])

    # --------------------------------------- vectorized multi-block core

    def _decrypt_blocks(self, blocks: np.ndarray) -> np.ndarray:
        """(n, 16) uint8 ciphertext blocks -> (n, 16) plaintext (ECB);
        every AES round is an array pass, no per-block Python."""
        m9, m11 = _NP_MUL[9], _NP_MUL[11]
        m13, m14 = _NP_MUL[13], _NP_MUL[14]
        s = blocks ^ self._np_rk[self._nr]
        for rnd in range(self._nr - 1, 0, -1):
            s = _NP_INV_SBOX[s[:, _NP_INV_SHIFT]]  # InvShiftRows+InvSub
            s ^= self._np_rk[rnd]
            cols = s.reshape(-1, 4, 4)
            b0, b1 = cols[:, :, 0], cols[:, :, 1]
            b2, b3 = cols[:, :, 2], cols[:, :, 3]
            out = np.empty_like(cols)
            out[:, :, 0] = m14[b0] ^ m11[b1] ^ m13[b2] ^ m9[b3]
            out[:, :, 1] = m9[b0] ^ m14[b1] ^ m11[b2] ^ m13[b3]
            out[:, :, 2] = m13[b0] ^ m9[b1] ^ m14[b2] ^ m11[b3]
            out[:, :, 3] = m11[b0] ^ m13[b1] ^ m9[b2] ^ m14[b3]
            s = out.reshape(-1, 16)
        s = _NP_INV_SBOX[s[:, _NP_INV_SHIFT]]
        return s ^ self._np_rk[0]

    # ------------------------------------------------------- CBC modes

    def encrypt_cbc(self, iv: bytes, data: bytes,
                    pad: bool = True) -> bytes:
        """CBC encrypt (inherently sequential).
        pad=True applies PKCS#7; pad=False requires 16-aligned input
        (the AESV3 /UE-/OE shape)."""
        if pad:
            n = 16 - len(data) % 16
            data = data + bytes([n]) * n
        elif len(data) % 16:
            raise ValueError("unpadded CBC needs 16-aligned input")
        # the chain stays in 32-bit words end to end: one int.from_bytes
        # per input word and one to_bytes per output word, no per-block
        # byte-list XOR
        enc = self._encrypt_words
        p0 = int.from_bytes(iv[0:4], "big")
        p1 = int.from_bytes(iv[4:8], "big")
        p2 = int.from_bytes(iv[8:12], "big")
        p3 = int.from_bytes(iv[12:16], "big")
        out = bytearray(len(data))
        fb = int.from_bytes
        for i in range(0, len(data), 16):
            p0, p1, p2, p3 = enc(p0 ^ fb(data[i:i + 4], "big"),
                                 p1 ^ fb(data[i + 4:i + 8], "big"),
                                 p2 ^ fb(data[i + 8:i + 12], "big"),
                                 p3 ^ fb(data[i + 12:i + 16], "big"))
            out[i:i + 4] = p0.to_bytes(4, "big")
            out[i + 4:i + 8] = p1.to_bytes(4, "big")
            out[i + 8:i + 12] = p2.to_bytes(4, "big")
            out[i + 12:i + 16] = p3.to_bytes(4, "big")
        return bytes(out)

    def decrypt_cbc(self, iv: bytes, data: bytes,
                    pad: bool = True) -> bytes:
        """CBC decrypt, vectorized across blocks: plaintext_i = D(c_i)
        xor c_{i-1} has no chain dependency once every D(c_i) is batch-
        computed, so the whole stream is a handful of numpy passes."""
        if len(data) % 16 or (pad and not data):
            raise ValueError("AES-CBC data not 16-aligned")
        if not data:
            return b""
        blocks = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
        plain = self._decrypt_blocks(blocks)
        prev = np.vstack([np.frombuffer(iv, dtype=np.uint8), blocks[:-1]])
        plain ^= prev
        out = plain.tobytes()
        if pad:
            n = out[-1]
            if not 1 <= n <= 16 or out[-n:] != bytes([n]) * n:
                raise ValueError("AES-CBC bad PKCS#7 padding")
            out = out[:-n]
        return out
