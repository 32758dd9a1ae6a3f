"""sources/warc.py — WARC record parsing (ISO 28500), the Spark read path,
and the never-hangs guarantees."""

import gzip
import io

import numpy as np
import pytest

from sparkstract.fixtures.encoders.warc import encode_warc
from sparkstract.sources.warc import parse_warc, read_warc, warc_responses


def _recs():
    return [
        dict(warc_type="warcinfo", payload=b"software: sparkstract\r\n"),
        dict(warc_type="response", target_uri="http://example.com/a",
             http_status=200, content_type="text/html",
             payload=b"<html><body><p>Alpha page body</p></body></html>"),
        dict(warc_type="request", target_uri="http://example.com/a",
             payload=b"GET /a HTTP/1.1\r\nHost: example.com\r\n\r\n"),
        dict(warc_type="response", target_uri="http://example.com/b",
             http_status=404, content_type="text/html",
             payload=b"<html>missing</html>"),
        dict(warc_type="response", target_uri="http://example.com/big",
             http_status=200, content_type="application/octet-stream",
             payload=b"x" * 5000),
    ]


@pytest.mark.parametrize("gz", [True, False])
def test_roundtrip_plain_and_gzip_members(gz):
    got = parse_warc(encode_warc(_recs(), gzip_members=gz),
                     max_payload=1000)
    assert [g["warc_type"] for g in got] == [
        "warcinfo", "response", "request", "response", "response"]
    assert got[1]["http_status"] == 200
    assert got[1]["content_type"] == "text/html"  # from the HTTP head
    assert got[1]["payload"] == _recs()[1]["payload"]
    assert got[1]["target_uri"] == "http://example.com/a"
    assert got[0]["target_uri"] is None
    assert got[3]["http_status"] == 404
    # payload cap: flagged, true size reported, bytes truncated
    assert got[4]["truncated"] and got[4]["n_bytes"] == 5000
    assert len(got[4]["payload"]) == 1000


def test_gzip_member_boundaries_are_records():
    data = encode_warc(_recs(), gzip_members=True)
    # each record its own member: 5 gzip magics
    assert data.count(b"\x1f\x8b\x08") >= 5
    # a whole-file single-member gzip (non-convention, still legal)
    blob = encode_warc(_recs(), gzip_members=False)
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as z:
        z.write(blob)
    got = parse_warc(buf.getvalue())
    assert len(got) == 5


def test_malformed_inputs_raise_named_never_hang():
    with pytest.raises(ValueError, match="version line"):
        parse_warc(b"NOPE/1.0\r\n\r\n\r\n")
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc(b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody")
    ok = encode_warc(_recs()[:2], gzip_members=False)
    with pytest.raises(ValueError, match="overruns"):
        parse_warc(ok[:len(ok) - 30])
    with pytest.raises(ValueError, match="truncated"):
        parse_warc(encode_warc(_recs()[:1])[:10])


def test_gzip_bomb_bounded():
    """A member inflating past the bound raises instead of materializing:
    the decompression-bomb guard (same class as png.py's IDAT cap)."""
    import zlib

    blob = b"WARC/1.0\r\n" + b"x" * 200   # content irrelevant
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as z:
        z.write(b"\x00" * 3000)
    with pytest.raises(ValueError, match="inflate bound"):
        from sparkstract.sources.warc import _gzip_members

        list(_gzip_members(buf.getvalue(), max_member=1000))
    assert zlib  # silence unused-import linters
    assert blob


def test_fuzz_never_hangs():
    rng = np.random.default_rng(31)
    base = bytearray(encode_warc(_recs(), gzip_members=False))
    for _ in range(400):
        b = bytearray(base)
        for _ in range(int(rng.integers(1, 8))):
            b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
        try:
            parse_warc(bytes(b))
        except ValueError:
            pass


def test_spark_read_path(tmp_path, spark):
    p = tmp_path / "crawl-00000.warc.gz"
    p.write_bytes(encode_warc(_recs(), gzip_members=True))
    df = read_warc(spark, str(p), max_payload=1000)
    rows = df.orderBy("record_seq").collect()
    assert len(rows) == 5
    assert rows[1].warc_type == "response"
    assert rows[1].target_uri == "http://example.com/a"
    assert bytes(rows[1].payload) == _recs()[1]["payload"]
    assert rows[4].truncated and rows[4].n_bytes == 5000
    ok = warc_responses(df).collect()
    assert {r.target_uri for r in ok} == {"http://example.com/a",
                                          "http://example.com/big"}


def test_warc_to_html_pipeline(spark):
    """Composition: crawl records -> 200-responses -> main-content strip
    (the first two stages of a real training-data pipeline)."""
    from pyspark.sql import functions as F

    from sparkstract.functions.html import strip_boilerplate

    html = (b"<html><head><title>T</title></head><body>"
            b"<p>Alpha beta gamma delta epsilon zeta main body text"
            b" here continuing with more words</p>"
            b"<a href='/x'>nav</a></body></html>")
    recs = [dict(warc_type="response", target_uri="http://e.com/p",
                 http_status=200, content_type="text/html", payload=html)]
    import pandas as pd

    pdf = pd.DataFrame([("f", encode_warc(recs))],
                       columns=["path", "content"])
    frame = spark.createDataFrame(pdf, "path string, content binary")
    # the ONE shared parse kernel, over an in-memory frame
    from sparkstract.sources.warc import WARC_SCHEMA, warc_kernel

    records = frame.mapInPandas(warc_kernel(), schema=WARC_SCHEMA)
    text = warc_responses(records).select(
        "target_uri",
        strip_boilerplate(
            F.decode(F.col("payload"), "utf-8")).alias("main_text"))
    (row,) = text.collect()
    assert "main body text" in row.main_text
    assert "nav" not in row.main_text


def test_stream_warc_ingest_two_arrivals(spark, tmp_path):
    """Streaming crawl ingest: segments arriving across two drains are
    each processed exactly once (checkpointed file source)."""
    from sparkstract.streaming.stream import stream_warc_ingest

    warc_dir = tmp_path / "in"
    warc_dir.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (warc_dir / "seg-0.warc.gz").write_bytes(
        encode_warc(_recs(), gzip_members=True))
    stream_warc_ingest(spark, str(warc_dir), out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == 5
    # second segment arrives; re-drain processes ONLY the new file
    (warc_dir / "seg-1.warc.gz").write_bytes(
        encode_warc(_recs()[:2], gzip_members=True))
    stream_warc_ingest(spark, str(warc_dir), out, ckpt)
    df = spark.read.parquet(out)
    assert df.count() == 7
    assert df.filter("warc_type = 'response'").count() == 4


# ------------------------------------------------- per-record fault tolerance


def test_tolerant_mode_recovers_after_bad_record_plain():
    """One malformed record mid-file costs one flagged row, not the
    segment: records after the resync point still come out intact."""
    good = encode_warc(_recs(), gzip_members=False)
    bad = b"WARC/1.0\r\nWARC-Type: junk\r\n\r\n"  # no Content-Length
    # splice the bad record between record 0 and the rest
    first_end = good.find(b"\r\n\r\nWARC/") + 4
    data = good[:first_end] + bad + good[first_end:]
    with pytest.raises(ValueError):
        parse_warc(data)  # strict default unchanged
    got = parse_warc(data, strict=False)
    types = [g["warc_type"] for g in got]
    assert types == ["warcinfo", "parse-error", "response", "request",
                     "response", "response"]
    assert "Content-Length" in got[1]["error"]
    assert all(g["error"] is None for g in got if g["warc_type"]
               != "parse-error")


def test_tolerant_mode_recovers_after_bad_gzip_member():
    """A corrupt gzip member yields one error row and the scan resyncs at
    the next member's magic."""
    members = [encode_warc([r], gzip_members=True) for r in _recs()]
    corrupt = bytearray(members[1])
    corrupt[12] ^= 0xFF  # damage the deflate stream
    data = members[0] + bytes(corrupt) + members[2]
    got = parse_warc(data, strict=False)
    types = [g["warc_type"] for g in got]
    assert types[0] == "warcinfo"
    assert "parse-error" in types
    assert types[-1] == "request"
    err = next(g for g in got if g["warc_type"] == "parse-error")
    assert "gzip member" in err["error"]


def test_tolerant_mode_truncated_tail():
    """A truncated final record is flagged; earlier records survive."""
    good = encode_warc(_recs()[:2], gzip_members=False)
    data = good[:-30]
    got = parse_warc(data, strict=False)
    assert got[0]["warc_type"] == "warcinfo"
    assert got[-1]["warc_type"] == "parse-error"
    assert "overruns" in got[-1]["error"]


# ------------------------- HTTP transfer/content codings (RFC 9110/9112)


def _http_rec(block):
    hdr = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Record-ID: <urn:x:1>\r\n"
           b"Content-Type: application/http; msgtype=response\r\n"
           b"Content-Length: " + str(len(block)).encode() + b"\r\n\r\n")
    return hdr + block + b"\r\n\r\n"


def _chunked(body, sizes):
    out, pos = b"", 0
    for sz in sizes:
        c = body[pos:pos + sz]
        out += f"{len(c):x}".encode() + b"\r\n" + c + b"\r\n"
        pos += sz
    return out + b"0\r\n\r\n"


def test_warc_chunked_transfer_decoding():
    body = b"hello chunked world" * 3
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n"
            + _chunked(body, [10, 15, 100]))
    (rec,) = parse_warc(_http_rec(http))
    assert rec["payload"] == body
    assert rec["http_status"] == 200


def test_warc_gzip_content_encoding():
    import gzip as G

    page = b"<html>compressed page</html>"
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
            b"Content-Type: text/html\r\n\r\n" + G.compress(page))
    (rec,) = parse_warc(_http_rec(http))
    assert rec["payload"] == page


def test_warc_deflate_both_wrappings():
    import zlib

    page = b"deflated body bytes"
    for blob in (zlib.compress(page),
                 zlib.compressobj(wbits=-15).compress(page)
                 + zlib.compressobj(wbits=-15).flush()):
        pass
    co = zlib.compressobj(wbits=-15)
    raw = co.compress(page) + co.flush()
    for blob in (zlib.compress(page), raw):
        http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
                + blob)
        (rec,) = parse_warc(_http_rec(http))
        assert rec["payload"] == page


def test_warc_chunked_then_gzip_layering():
    import gzip as G

    gz = G.compress(b"layered")
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
            b"Content-Encoding: gzip\r\n\r\n" + _chunked(gz, [len(gz)]))
    (rec,) = parse_warc(_http_rec(http))
    assert rec["payload"] == b"layered"


def test_warc_malformed_chunk_flagged_not_fatal():
    http = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nZZZ\r\nxx"
    (rec,) = parse_warc(_http_rec(http), strict=False)
    assert rec["warc_type"] == "parse-error"
    assert "chunked" in rec["error"]


def test_warc_chunked_bomb_bounded():
    # a chunk claiming more data than the record carries must raise,
    # and the cumulative bound caps expansion
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"ffffff\r\nshort")
    (rec,) = parse_warc(_http_rec(http), strict=False)
    assert rec["warc_type"] == "parse-error"


def test_warc_unknown_content_encoding_left_as_captured():
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\nBRBYTES")
    (rec,) = parse_warc(_http_rec(http))
    assert rec["payload"] == b"BRBYTES"  # brotli: no codec — keep raw
