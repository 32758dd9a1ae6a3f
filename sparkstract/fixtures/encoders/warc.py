"""WARC mirror writer (fixture side) for sources/warc.py.

Writer (`encode_warc`) is fixture-side, like encode_gray_tiff: tests and
the oracle carry genuine WARC bytes, gzip-member or plain.
"""

from __future__ import annotations

import gzip
import hashlib
import io


def encode_warc(records: list[dict], gzip_members: bool = True) -> bytes:
    """Fixture writer: records = dicts with warc_type, target_uri (opt),
    payload (bytes), http_status (opt; wraps the payload in an HTTP
    response message), content_type (opt). Deterministic record ids from
    the payload hash."""
    out = bytearray()
    for i, r in enumerate(records):
        payload = r["payload"]
        if r.get("http_status") is not None:
            http = (f"HTTP/1.1 {r['http_status']} OK\r\n"
                    f"Content-Type: {r.get('content_type', 'text/html')}\r\n"
                    f"Content-Length: {len(payload)}\r\n\r\n"
                    ).encode("latin-1") + payload
            block = http
            ctype = "application/http; msgtype=response"
        else:
            block = payload
            ctype = r.get("content_type", "application/octet-stream")
        rid = ("<urn:sha1:"
               + hashlib.sha1(payload + str(i).encode()).hexdigest()
               + ">")
        head = [f"WARC/1.0",
                f"WARC-Type: {r['warc_type']}",
                f"WARC-Record-ID: {rid}",
                f"WARC-Date: 2026-01-01T00:00:00Z",
                f"Content-Type: {ctype}",
                f"Content-Length: {len(block)}"]
        if r.get("target_uri"):
            head.insert(2, f"WARC-Target-URI: {r['target_uri']}")
        rec = ("\r\n".join(head) + "\r\n\r\n").encode("latin-1") \
            + block + b"\r\n\r\n"
        if gzip_members:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(rec)
            out += buf.getvalue()
        else:
            out += rec
    return bytes(out)
