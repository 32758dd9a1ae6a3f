"""AES (FIPS 197) — the cipher under PDF AESV2/AESV3, on OpenSSL.

Reference contract: the reference refuses encrypted PDFs outright (its
ingest is raster-only), but post-2008 encrypted PDFs are overwhelmingly
AES, so the pipeline's born-digital tier needs the cipher the way it
needs Flate. The block cipher comes from the `cryptography` package
(OpenSSL), a runtime dependency: the AESV3 2.B KDF CBC-encrypts about half
a MiB per key derivation, which interpreted Python cannot afford per page.

This module is the one seam over it and keeps the PDF handler's contract:
16- and 32-byte keys only (AESV2/AESV3; 24-byte keys are not a PDF shape),
CBC with PKCS#7 checked here rather than by the library, so the error
messages stay the handler's. A from-scratch pure-Python AES (generated
S-box, T-table encryptor, numpy decryptor) lives in tests/aes_oracle.py;
tests/test_aes.py checks this seam against it and against the FIPS 197
Appendix C known-answer vectors.
"""

from __future__ import annotations

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes


class AES:
    """One key; block ops + CBC modes."""

    __slots__ = ("_alg",)

    def __init__(self, key: bytes) -> None:
        if len(key) not in (16, 32):
            raise ValueError("AES key must be 16 or 32 bytes")
        self._alg = algorithms.AES(key)

    def _run(self, mode, data: bytes, encrypt: bool) -> bytes:
        c = Cipher(self._alg, mode)
        op = c.encryptor() if encrypt else c.decryptor()
        return op.update(data) + op.finalize()

    def encrypt_block(self, block: bytes) -> bytes:
        return self._run(modes.ECB(), block, True)

    def decrypt_block(self, block: bytes) -> bytes:
        return self._run(modes.ECB(), block, False)

    def encrypt_cbc(self, iv: bytes, data: bytes,
                    pad: bool = True) -> bytes:
        """CBC encrypt. pad=True applies PKCS#7; pad=False requires
        16-aligned input (the AESV3 /UE-/OE shape and the 2.B KDF)."""
        if pad:
            n = 16 - len(data) % 16
            data = data + bytes([n]) * n
        elif len(data) % 16:
            raise ValueError("unpadded CBC needs 16-aligned input")
        return self._run(modes.CBC(iv), data, True)

    def decrypt_cbc(self, iv: bytes, data: bytes,
                    pad: bool = True) -> bytes:
        """CBC decrypt; pad=True checks and strips PKCS#7."""
        if len(data) % 16 or (pad and not data):
            raise ValueError("AES-CBC data not 16-aligned")
        if not data:
            return b""
        out = self._run(modes.CBC(iv), data, False)
        if pad:
            n = out[-1]
            if not 1 <= n <= 16 or out[-n:] != bytes([n]) * n:
                raise ValueError("AES-CBC bad PKCS#7 padding")
            out = out[:-n]
        return out
