"""WARC source — the native web-crawl archive format (ISO 28500).

A training-data engine's raw input is crawl archives: WARC files of
concatenated records, each usually its own gzip member (the Common Crawl
convention, which makes records independently seekable). The reference
engine never reads crawls (it is handed page images), but the pipeline
this repo serves starts one stage earlier, so the source tier carries a
from-scratch WARC reader at the same quality bar as the image codecs.

Format (ISO 28500 §4): a record is a version line (``WARC/1.0`` or 1.1),
``Name: value`` header lines, CRLF CRLF, then exactly
``Content-Length`` bytes of block, then CRLF CRLF. For ``response``
records whose Content-Type is ``application/http``, the block is an HTTP
message: status line + headers, CRLF CRLF, payload.  Raw captures keep
the WIRE form, so payload extraction also undoes Transfer-Encoding:
chunked (RFC 9112 §7.1) and Content-Encoding gzip/x-gzip/deflate (both
zlib-wrapped and raw), each behind the same inflate bound as the gzip
members; unknown codings (br, zstd) stay as captured.

Scale shape: `read_warc` loads files through Spark's binaryFile source
(one task per file — crawls ship ~1 GiB segments, so a 100 TB crawl is
~100k well-sized tasks) and parses each inside `mapInPandas`; payloads
are capped at `max_payload` with an explicit truncated flag, so a single
pathological record cannot blow an executor. No shuffle: parsing is
map-only, and downstream filters/projections push into the scan.

Mirror writer: sparkstract/fixtures/encoders/warc.py (`encode_warc`).
"""

from __future__ import annotations

import gzip
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

WARC_SCHEMA = (
    "source_file string, record_seq int, record_id string, "
    "warc_type string, target_uri string, warc_date string, "
    "content_type string, http_status int, payload binary, "
    "n_bytes long, truncated boolean, error string"
)

_CRLF2 = b"\r\n\r\n"
_GZ_MAGIC = b"\x1f\x8b\x08"


def _gzip_members(data: bytes, max_member: int = 1 << 28,
                  strict: bool = True) -> Iterator[tuple]:
    """Decompress a stream of concatenated gzip members one member at a
    time (the per-record-gzip WARC convention), yielding
    ``(member_bytes, None)`` per member. Each member's inflated size is
    BOUNDED (`max_member`, default 256 MiB): a crafted member expanding
    ~1000x must raise, not OOM the executor — the same
    decompression-bomb guard png.py applies to IDAT.

    Non-strict mode (the Spark kernel's): a corrupt member yields
    ``(None, error_message)`` and the scan resyncs at the next gzip
    magic, so one bad record in a ~1 GiB crawl segment costs one flagged
    row, not the segment."""
    pos = 0
    while pos < len(data):
        try:
            d = zlib.decompressobj(wbits=31)
            out = d.decompress(data[pos:], max_member + 1)
            if len(out) > max_member:
                raise ValueError(
                    "WARC gzip member exceeds the inflate bound")
            if not d.eof:
                raise ValueError("WARC gzip member truncated")
            consumed = len(data) - pos - len(d.unused_data)
            if consumed <= 0:
                raise ValueError("WARC gzip stream does not advance")
        except (zlib.error, ValueError) as e:
            if strict:
                raise
            yield None, f"gzip member at byte {pos}: {e}"
            nxt = data.find(_GZ_MAGIC, pos + 1)
            if nxt < 0:
                return
            pos = nxt
            continue
        yield out, None
        pos += consumed


def _dechunk(body: bytes, bound: int = 1 << 28) -> bytes:
    """HTTP/1.1 chunked transfer coding (RFC 9112 §7.1): hex size line,
    CRLF, data, CRLF, until a zero-size chunk.  Raw captures store the
    wire form, so de-chunking is part of payload extraction.  Bounded —
    a crafted body cannot out-allocate its container."""
    out = bytearray()
    pos, n = 0, len(body)
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0 or eol - pos > 16:
            raise ValueError("HTTP chunked body: size line missing")
        tok = body[pos:eol].split(b";")[0].strip()
        try:
            size = int(tok, 16)
        except ValueError:
            raise ValueError("HTTP chunked body: malformed size") from None
        pos = eol + 2
        if size == 0:
            break
        if pos + size > n:
            raise ValueError("HTTP chunked body truncated")
        out += body[pos:pos + size]
        if len(out) > bound:
            raise ValueError("HTTP chunked body exceeds the inflate bound")
        pos += size + 2          # chunk data's trailing CRLF
    return bytes(out)


def _decode_content(payload: bytes, cenc: str,
                    bound: int = 1 << 28) -> bytes:
    """Content-Encoding gzip/x-gzip/deflate -> identity, capped at
    `bound` (the same decompression-bomb guard as the gzip members)."""
    import zlib

    if cenc in ("gzip", "x-gzip"):
        dec = zlib.decompressobj(31)
    elif cenc == "deflate":
        # zlib-wrapped per RFC, raw-deflate in the wild: sniff the header
        raw = not (payload[:1] and (payload[0] & 0x0F) == 8)
        dec = zlib.decompressobj(-15 if raw else 15)
    else:
        return payload           # identity / unknown: leave as captured
    out = dec.decompress(payload, bound)
    if dec.unconsumed_tail:
        raise ValueError("HTTP payload exceeds the inflate bound")
    return out


def _parse_record(chunk: bytes, pos: int,
                  max_payload: int) -> tuple[dict, int]:
    """One WARC record at `chunk[pos:]` -> (record dict, next pos).
    Raises ValueError on any malformation; the caller decides whether
    that aborts the file (strict) or becomes a flagged row (tolerant)."""
    n = len(chunk)
    head_end = chunk.find(_CRLF2, pos)
    if head_end < 0 or head_end - pos > 65536:
        raise ValueError("WARC record header missing or oversized")
    head = chunk[pos:head_end].decode("latin-1")
    lines = head.split("\r\n")
    if not lines[0].startswith("WARC/"):
        raise ValueError(
            f"WARC version line expected, got {lines[0][:20]!r}")
    hdrs = {}
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        hdrs[k.strip().lower()] = v.strip()
    try:
        clen = int(hdrs["content-length"])
    except (KeyError, ValueError):
        raise ValueError("WARC record missing Content-Length") from None
    if clen < 0 or head_end + 4 + clen > n:
        raise ValueError("WARC Content-Length overruns the file")
    block = chunk[head_end + 4:head_end + 4 + clen]
    pos = head_end + 4 + clen
    wtype = hdrs.get("warc-type", "")
    ctype = hdrs.get("content-type", "")
    status = None
    payload = block
    if ctype.startswith("application/http"):
        split = block.find(_CRLF2)
        if split >= 0:
            http_head = block[:split].decode("latin-1", errors="replace")
            payload = block[split + 4:]
            hl = http_head.split("\r\n")
            parts = hl[0].split()
            if len(parts) >= 2 and parts[0].startswith("HTTP/"):
                try:
                    status = int(parts[1])
                except ValueError:
                    status = None
            tenc = cenc = ""
            for ln in hl[1:]:
                k, _, v = ln.partition(":")
                kl = k.strip().lower()
                if kl == "content-type":
                    ctype = v.strip()
                elif kl == "transfer-encoding":
                    tenc = v.strip().lower()
                elif kl == "content-encoding":
                    cenc = v.strip().lower()
            # raw captures keep the wire form: de-chunk, then de-compress
            # (RFC 9110 §6.4 layering); failures raise and become flagged
            # rows under the tolerant parse like any other malformation
            if "chunked" in tenc:
                payload = _dechunk(payload)
            if cenc:
                payload = _decode_content(payload, cenc)
    n_bytes = len(payload)
    truncated = n_bytes > max_payload
    return dict(
        record_id=hdrs.get("warc-record-id", ""),
        warc_type=wtype,
        target_uri=hdrs.get("warc-target-uri"),
        warc_date=hdrs.get("warc-date"),
        content_type=ctype,
        http_status=status,
        payload=payload[:max_payload],
        n_bytes=n_bytes,
        truncated=truncated,
        error=None,
    ), pos


def _error_rec(msg: str) -> dict:
    return dict(record_id="", warc_type="parse-error", target_uri=None,
                warc_date=None, content_type="", http_status=None,
                payload=b"", n_bytes=0, truncated=False, error=msg)


def parse_warc(data: bytes, max_payload: int = 1 << 20,
               strict: bool = True) -> list[dict]:
    """WARC bytes (plain or gzip-membered) -> list of record dicts with
    the WARC_SCHEMA fields (minus source_file/record_seq, the reader's).

    Defensive the way the image codecs are: header section capped, a
    missing/absurd Content-Length is a named error, payloads truncate at
    `max_payload` with the flag set — a crafted record cannot expand past
    its declared length or buffer unboundedly in an executor.

    `strict=False` (how the Spark kernel runs it): real crawl segments
    routinely contain a few corrupt records, and all-or-nothing parsing
    would discard a ~1 GiB segment — or, in the checkpointed streaming
    ingest, poison the query since the failing file is retried every
    restart. Tolerant mode emits ONE flagged row per failure
    (warc_type='parse-error', error=<reason>) and resyncs at the next
    ``\\r\\nWARC/`` marker (plain files) or gzip magic (membered files);
    only a file with nothing parseable yields only error rows."""
    if data[:2] == b"\x1f\x8b":
        chunks = _gzip_members(data, strict=strict)
    else:
        chunks = iter([(data, None)])
    out: list[dict] = []
    for chunk, cerr in chunks:
        if cerr is not None:
            out.append(_error_rec(cerr))
            continue
        pos = 0
        n = len(chunk)
        while pos < n:
            # tolerate inter-record CRLFs
            while pos < n and chunk[pos:pos + 2] == b"\r\n":
                pos += 2
            if pos >= n:
                break
            try:
                rec, pos = _parse_record(chunk, pos, max_payload)
            except ValueError as e:
                if strict:
                    raise
                out.append(_error_rec(f"record at byte {pos}: {e}"))
                nxt = chunk.find(b"\r\nWARC/", pos + 1)
                if nxt < 0:
                    break
                pos = nxt + 2
                continue
            out.append(rec)
    return out


def warc_kernel(max_payload: int = 1 << 20):
    """mapInPandas kernel over a (path, content) frame -> WARC_SCHEMA
    rows — the ONE parse kernel shared by the batch reader, the streaming
    ingest, and the oracle query (so they cannot silently diverge)."""
    import pandas as pd

    cols = [c.split()[0] for c in WARC_SCHEMA.split(", ")]

    def kernel(batches):
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for i, rec in enumerate(parse_warc(bytes(content),
                                                   max_payload,
                                                   strict=False)):
                    rows.append(dict(source_file=fpath, record_seq=i,
                                     **rec))
            yield pd.DataFrame(rows, columns=cols)

    return kernel


def read_warc(spark: SparkSession, path: str,
              max_payload: int = 1 << 20) -> DataFrame:
    """WARC file(s) -> one row per record (WARC_SCHEMA). binaryFile gives
    one task per archive file; parsing is map-only inside mapInPandas."""
    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")
    return files.mapInPandas(warc_kernel(max_payload), schema=WARC_SCHEMA)


def warc_responses(records: DataFrame) -> DataFrame:
    """The rows a text pipeline feeds on: HTTP 200 response records.
    Plain filters — they push into the binaryFile scan's projection."""
    from pyspark.sql import functions as F

    return records.filter((F.col("warc_type") == "response")
                          & (F.col("http_status") == 200))
