"""PDF standard security handler (ISO 32000 §7.6.3) — RC4 variants.

Reference contract: the reference refuses encrypted PDFs outright (its
ingest is raster-only; PDF wrapping is handled by callers), but real
born-digital corpora carry owner-password-encrypted files whose USER
password is empty — the "restrict printing" shape most generators emit —
and those are readable by design: the standard handler derives the file
key from the EMPTY user password, so a conforming reader decrypts without
any secret. This module implements exactly that path from the spec:

  * algorithm 2   — file encryption key from the (padded) user password
  * algorithm 4/5 — /U verification (R2 / R3+) to authenticate the empty
                    user password; anything else raises a NAMED
                    password-protected error (no guessing)
  * algorithm 1   — per-object key: MD5(key + objnum_le3 + gen_le2)
  * RC4           — the /V 1 (40-bit) and /V 2 (/Length-bit) cipher

AES (/V 4 with AESV2, /V 5 with AESV3 — the shape of essentially every
post-2008 encrypted PDF) rides the same empty-user-password derivation:

  * /V 4 (R4):  file key as algorithm 2, per-object key = MD5(key +
                objnum_le3 + gen_le2 + "sAlT"), streams are
                IV-prefixed AES-128-CBC with PKCS#7 (§7.6.2)
  * /V 5 (R5/R6): SHA-2 family derivation — /U validated via the
                validation salt (R6: the iterated algorithm-2.B KDF),
                file key = AES-256-CBC-decrypt(/UE) under the key-salt
                hash; per-object key IS the file key; /Perms sanity-
                checked ("adb" marker) after decryption

MD5/SHA-2 come from hashlib (standard library); RC4 is the 10-line
KSA/PRGA from its public description; AES is functions/aes.py (the seam
over OpenSSL through the `cryptography` package).

Writer side (fixture-only, like encode_gray_tiff): make_encryption builds
the /O, /U, /P entries and the file key for an R3 128-bit empty-password
document so tests and the pdf_encrypted_page family carry genuinely
encrypted bytes the parser must decrypt.
"""

from __future__ import annotations

import hashlib

# §7.6.3.3 algorithm 2 step a: the 32-byte password pad
PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (KSA + PRGA); encrypt == decrypt."""
    s = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % kl]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _pad_password(pw: bytes) -> bytes:
    return (pw + PAD)[:32]


def file_key(o_entry: bytes, p: int, id0: bytes, r: int, key_len: int,
             user_pw: bytes = b"") -> bytes:
    """Algorithm 2: the file encryption key from the user password."""
    h = hashlib.md5()
    h.update(_pad_password(user_pw))
    h.update(o_entry[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(id0)
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:key_len]).digest()
    return key[:key_len]


def user_entry(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3+): the /U value for a given file key."""
    if r == 2:
        return rc4(key, PAD)
    digest = hashlib.md5(PAD + id0).digest()
    enc = rc4(key, digest)
    for i in range(1, 20):
        enc = rc4(bytes(b ^ i for b in key), enc)
    return enc + b"\x00" * 16


def check_user_password(u_entry: bytes, key: bytes, id0: bytes,
                        r: int) -> bool:
    """Authenticate: does this key (derived from the empty user password)
    reproduce /U? R3+ compares the first 16 bytes only (§7.6.3.4)."""
    want = user_entry(key, id0, r)
    if r == 2:
        return u_entry[:32] == want[:32]
    return u_entry[:16] == want[:16]


def owner_entry(owner_pw: bytes, user_pw: bytes, r: int,
                key_len: int) -> bytes:
    """Algorithm 3: the /O value (owner password defaults to user's)."""
    key = hashlib.md5(_pad_password(owner_pw or user_pw)).digest()
    if r >= 3:
        # Algorithm 3 step (c) feeds only the first key_len bytes of each
        # digest back in (mirrors file_key) — hashing the full 16 bytes
        # would produce a wrong /O whenever key_len < 16
        for _ in range(50):
            key = hashlib.md5(key[:key_len]).digest()
    key = key[:key_len]
    enc = rc4(key, _pad_password(user_pw))
    if r >= 3:
        for i in range(1, 20):
            enc = rc4(bytes(b ^ i for b in key), enc)
    return enc


def object_key(key: bytes, num: int, gen: int,
               aes: bool = False) -> bytes:
    """Algorithm 1: the per-object key (aes=True appends the AESV2
    "sAlT" suffix 0x73416C54 per §7.6.2 step b)."""
    h = hashlib.md5(key + num.to_bytes(4, "little")[:3]
                    + gen.to_bytes(4, "little")[:2]
                    + (b"sAlT" if aes else b"")).digest()
    return h[:min(len(key) + 5, 16)]


def aes_decrypt_data(key: bytes, data: bytes) -> bytes:
    """PDF AES payload shape (§7.6.2): 16-byte IV prefix + CBC
    ciphertext + PKCS#7 (functions/aes.py)."""
    from .aes import AES

    if not data:
        return b""
    if len(data) < 16:
        raise ValueError("PDF AES data shorter than its IV")
    return AES(key).decrypt_cbc(data[:16], data[16:])


def aes_encrypt_data(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Writer side of aes_decrypt_data (fixture-only)."""
    from .aes import AES

    return iv + AES(key).encrypt_cbc(iv, data)


def decryptor(key: bytes, method: str, num: int, gen: int):
    """(decrypt_fn, per_object_key) for one indirect object — the single
    dispatch the parser uses for strings and stream bodies alike."""
    if method == "rc4":
        return rc4, object_key(key, num, gen)
    if method == "aesv2":
        return aes_decrypt_data, object_key(key, num, gen, aes=True)
    if method == "aesv3":
        return aes_decrypt_data, key            # no per-object derivation
    raise ValueError(f"PDF decryptor: unknown method {method!r}")


def hash_2b(pw: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 algorithm 2.B (R6): the iterated SHA-256/384/512 +
    AES-128-CBC KDF. The "first 16 bytes of E as a big-endian integer
    mod 3" selector reduces to sum(E[:16]) % 3 since 256 = 1 (mod 3)."""
    from .aes import AES

    k = hashlib.sha256(pw + salt + udata).digest()
    rounds = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = AES(k[:16]).encrypt_cbc(k[16:32], k1, pad=False)
        mod = sum(e[:16]) % 3
        if mod == 0:
            k = hashlib.sha256(e).digest()
        elif mod == 1:
            k = hashlib.sha384(e).digest()
        else:
            k = hashlib.sha512(e).digest()
        rounds += 1
        if rounds >= 64 and e[-1] <= rounds - 32:
            return k[:32]


def make_encryption(id0: bytes, p: int = -44) -> tuple[dict, bytes]:
    """Writer-side: (/Encrypt dict values, file key) for an R3 128-bit
    empty-password document — the restrict-permissions shape real
    generators emit."""
    key_len = 16
    o = owner_entry(b"", b"", 3, key_len)
    key = file_key(o, p, id0, 3, key_len)
    u = user_entry(key, id0, 3)
    return ({"V": 2, "R": 3, "Length": key_len * 8, "P": p,
             "O": o, "U": u, "method": "rc4", "extra": ""}, key)


def make_encryption_aes128(id0: bytes, p: int = -44) -> tuple[dict, bytes]:
    """Writer-side AESV2 (/V 4, R4): the O/U algorithms are R3's; the
    crypt-filter dict names AESV2 for streams and strings."""
    key_len = 16
    o = owner_entry(b"", b"", 4, key_len)
    key = file_key(o, p, id0, 4, key_len)
    u = user_entry(key, id0, 4)
    extra = (" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen"
             " /Length 16 >> >> /StmF /StdCF /StrF /StdCF")
    return ({"V": 4, "R": 4, "Length": key_len * 8, "P": p,
             "O": o, "U": u, "method": "aesv2", "extra": extra}, key)


def make_encryption_aes256(id0: bytes, p: int = -44) -> tuple[dict, bytes]:
    """Writer-side AESV3 (/V 5, R6 — ISO 32000-2 §7.6.4): empty user AND
    owner passwords. All "random" material is derived deterministically
    from id0 (fixture reproducibility), which is sound here because the
    salts only need uniqueness, not secrecy, for an empty-password file.
    /U,/UE per algorithm 8; /O,/OE per algorithm 9 (keyed on the 48-byte
    /U); /Perms per algorithm 10."""
    from .aes import AES

    d = hashlib.sha256(b"sparkstract-aesv3-material" + id0).digest()
    key = hashlib.sha256(b"sparkstract-aesv3-filekey" + id0).digest()
    vs, ks, ovs, oks = d[0:8], d[8:16], d[16:24], d[24:32]
    u = hash_2b(b"", vs, b"") + vs + ks
    ue = AES(hash_2b(b"", ks, b"")).encrypt_cbc(bytes(16), key, pad=False)
    o = hash_2b(b"", ovs, u) + ovs + oks
    oe = AES(hash_2b(b"", oks, u)).encrypt_cbc(bytes(16), key, pad=False)
    perms_pt = ((p & 0xFFFFFFFF).to_bytes(4, "little") + b"\xff" * 4
                + b"T" + b"adb"
                + hashlib.sha256(b"perms-fill" + id0).digest()[:4])
    perms = AES(key).encrypt_cbc(bytes(16), perms_pt, pad=False)
    extra = (f" /OE <{oe.hex()}> /UE <{ue.hex()}>"
             f" /Perms <{perms.hex()}>"
             " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen"
             " /Length 32 >> >> /StmF /StdCF /StrF /StdCF")
    return ({"V": 5, "R": 6, "Length": 256, "P": p,
             "O": o, "U": u, "method": "aesv3", "extra": extra}, key)


def _crypt_filter_method(enc: dict, deref) -> str:
    """V4/V5 crypt-filter resolution (§7.6.5): /StmF and /StrF must both
    name the same /CF entry (or /Identity); its /CFM picks the cipher."""
    stmf = deref(enc.get("/StmF", "/Identity"))
    strf = deref(enc.get("/StrF", "/Identity"))
    if stmf != strf:
        raise ValueError(f"PDF encryption: split crypt filters "
                         f"(StmF {stmf}, StrF {strf}) out of scope")
    if stmf == "/Identity":
        return "identity"
    cf = deref(enc.get("/CF", {}))
    ent = deref(cf.get(stmf))
    if not isinstance(ent, dict):
        raise ValueError(f"PDF encryption: crypt filter {stmf} missing")
    cfm = deref(ent.get("/CFM"))
    if cfm == "/V2":
        return "rc4"
    if cfm == "/AESV2":
        return "aesv2"
    if cfm == "/AESV3":
        return "aesv3"
    raise ValueError(f"PDF encryption CFM {cfm!r}: out of scope")


def reader_key(enc: dict, id0: bytes, deref) -> tuple[bytes, str]:
    """Parser-side: derive + authenticate the file key from an /Encrypt
    dict (values possibly indirect) and the first /ID element; returns
    (key, method) with method in rc4/aesv2/aesv3. Raises a NAMED error
    for non-Standard filters, unknown CFMs, or a real user password."""
    filt = deref(enc.get("/Filter"))
    if filt != "/Standard":
        raise ValueError(f"PDF encryption filter {filt!r}: out of scope "
                         "(only the Standard security handler)")
    v = int(deref(enc.get("/V", 0)))
    r = int(deref(enc.get("/R", 2)))
    o = deref(enc.get("/O"))
    u = deref(enc.get("/U"))
    p = int(deref(enc.get("/P", -1)))
    if not (isinstance(o, bytes) and isinstance(u, bytes)):
        raise ValueError("PDF encryption: /O and /U must be strings")
    if v in (1, 2) and r in (2, 3):
        key_len = 5 if v == 1 else int(deref(enc.get("/Length", 40))) // 8
        if not 5 <= key_len <= 16:
            raise ValueError("PDF encryption: bad /Length")
        key = file_key(o, p, id0, r, key_len)
        if not check_user_password(u, key, id0, r):
            raise ValueError("password-protected PDF: a non-empty user "
                             "password is required (decrypt upstream)")
        return key, "rc4"
    if v == 4 and r == 4:
        method = _crypt_filter_method(enc, deref)
        if method not in ("rc4", "aesv2"):
            raise ValueError(f"PDF encryption V=4 with {method}: out of "
                             "scope (V2/AESV2 crypt filters supported)")
        key_len = int(deref(enc.get("/Length", 128))) // 8
        if not 5 <= key_len <= 16:
            raise ValueError("PDF encryption: bad /Length")
        key = file_key(o, p, id0, 4, key_len)
        if not check_user_password(u, key, id0, 4):
            raise ValueError("password-protected PDF: a non-empty user "
                             "password is required (decrypt upstream)")
        return key, method
    if v == 5 and r in (5, 6):
        method = _crypt_filter_method(enc, deref)
        if method != "aesv3":
            raise ValueError(f"PDF encryption V=5 with {method}: "
                             "inconsistent crypt filter")
        return _reader_key_v5(enc, o, u, r, deref), method
    raise ValueError(
        f"PDF encryption V={v} R={r}: out of scope (RC4 V1/V2 R2/R3, "
        "AESV2 V4/R4, AESV3 V5/R5-R6 supported)")


def _reader_key_v5(enc: dict, o: bytes, u: bytes, r: int,
                   deref) -> bytes:
    """Algorithms 2.A/8 (ISO 32000-2 §7.6.4.3.3), empty user password:
    validate /U via its validation salt, unwrap the file key from /UE
    under the key-salt hash, then sanity-check /Perms ("adb")."""
    from .aes import AES

    if len(u) < 48:
        raise ValueError("PDF encryption: /U must be 48 bytes for V5")
    ue = deref(enc.get("/UE"))
    if not isinstance(ue, bytes) or len(ue) != 32:
        raise ValueError("PDF encryption: /UE must be a 32-byte string")
    vs, ks = u[32:40], u[40:48]
    if r == 6:
        have = hash_2b(b"", vs, b"")
    else:                                  # R5: single SHA-256
        have = hashlib.sha256(vs).digest()
    if have != u[:32]:
        raise ValueError("password-protected PDF: a non-empty user "
                         "password is required (decrypt upstream)")
    ik = hash_2b(b"", ks, b"") if r == 6 else hashlib.sha256(ks).digest()
    key = AES(ik).decrypt_cbc(bytes(16), ue, pad=False)
    perms = deref(enc.get("/Perms"))
    if isinstance(perms, bytes) and len(perms) == 16:
        pt = AES(key).decrypt_cbc(bytes(16), perms, pad=False)
        if pt[9:12] != b"adb":
            raise ValueError("PDF encryption: /Perms failed to decrypt "
                             "(wrong file key or tampered dictionary)")
    return key
