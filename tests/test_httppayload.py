"""HTTP payload layer (functions/httppayload.py): header parsing, chunked
transfer decoding, the Content-Encoding chain, and the WARC loader wiring.

Fixture encodings come from stdlib zlib/gzip and libbrotlienc/libzstd, so
every decode is checked against an independent encoder. The reference has
no HTTP layer (its loaders start from decoded text), cited at
ingestion/loaders/.
"""

from __future__ import annotations

import gzip as gzip_mod
import zlib

import pytest

from graphrag_mrkr_2_spark.functions import httppayload as hp
from graphrag_mrkr_2_spark.functions.httppayload import (
    decode_content_encoding,
    decode_gzip,
    decode_http_payload,
    decode_zstd_native,
    dechunk,
    encode_brotli_native,
    encode_brotli_uncompressed,
    encode_zstd_native as _zstd_compress,
    parse_http_response,
)

BODY = ("The quick brown fox. " * 200).encode()


def _chunked(body: bytes, sizes=(7, 64, 1)) -> bytes:
    out = bytearray()
    pos = 0
    i = 0
    while pos < len(body):
        size = min(sizes[i % len(sizes)], len(body) - pos)
        out += b"%x;ext=1\r\n" % size + body[pos:pos + size] + b"\r\n"
        pos += size
        i += 1
    out += b"0\r\nTrailer: x\r\n\r\n"
    return bytes(out)


class TestParse:
    def test_status_headers_body(self):
        raw = (b"HTTP/1.1 301 Moved Permanently\r\n"
               b"Location: https://x/\r\nSet-Cookie: a=1\r\n"
               b"Set-Cookie: b=2\r\nX-Folded: start\r\n continued\r\n"
               b"\r\nBODY")
        status, headers, body = parse_http_response(raw)
        assert status == 301
        assert headers["location"] == "https://x/"
        assert headers["set-cookie"] == "a=1, b=2"  # RFC 9110 list join
        assert headers["x-folded"] == "start continued"
        assert body == b"BODY"

    def test_lf_only_headers(self):
        raw = b"HTTP/1.0 200 OK\nContent-Type: text/html\n\n<p>"
        status, headers, body = parse_http_response(raw)
        assert (status, headers["content-type"], body) == \
            (200, "text/html", b"<p>")

    def test_not_http_rejected(self):
        with pytest.raises(ValueError):
            parse_http_response(b"<html>no headers</html>")

    def test_missing_terminator_rejected(self):
        with pytest.raises(ValueError):
            parse_http_response(b"HTTP/1.1 200 OK\r\nA: b\r\n")


class TestChunked:
    def test_roundtrip(self):
        assert dechunk(_chunked(BODY)) == BODY

    def test_empty_body(self):
        assert dechunk(b"0\r\n\r\n") == b""

    @pytest.mark.parametrize("bad", [
        b"zz\r\nhi\r\n0\r\n\r\n",        # non-hex size
        b"5\r\nhi",                      # truncated data
        b"2\r\nhiXX0\r\n\r\n",           # missing data CRLF
        b"5;ext\r\n",                    # size line then nothing
    ])
    def test_malformed_rejected(self, bad):
        with pytest.raises(ValueError):
            dechunk(bad)


class TestContentEncoding:
    def test_identity_and_empty(self):
        assert decode_content_encoding(BODY, None) == BODY
        assert decode_content_encoding(BODY, "identity") == BODY

    def test_gzip_including_multimember(self):
        assert decode_content_encoding(gzip_mod.compress(BODY), "gzip") == BODY
        two = gzip_mod.compress(BODY[:100]) + gzip_mod.compress(BODY[100:])
        assert decode_gzip(two) == BODY

    def test_deflate_both_wrappings(self):
        assert decode_content_encoding(zlib.compress(BODY), "deflate") == BODY
        raw = zlib.compressobj(wbits=-15)
        blob = raw.compress(BODY) + raw.flush()
        assert decode_content_encoding(blob, "deflate") == BODY

    def test_br_pure_decoder(self):
        blob = encode_brotli_uncompressed(BODY)
        assert decode_content_encoding(blob, "br") == BODY

    def test_br_real_stream(self):
        assert decode_content_encoding(
            encode_brotli_native(BODY, 9), "br") == BODY

    def test_zstd(self):
        assert decode_content_encoding(_zstd_compress(BODY), "zstd") == BODY
        with pytest.raises(ValueError):
            decode_zstd_native(_zstd_compress(BODY)[:10])
        with pytest.raises(ValueError):
            decode_zstd_native(b"not zstd at all")

    def test_chain_applied_in_reverse(self):
        blob = gzip_mod.compress(encode_brotli_uncompressed(BODY))
        assert decode_content_encoding(blob, "br, gzip") == BODY

    def test_unknown_token_rejected(self):
        with pytest.raises(ValueError):
            decode_content_encoding(BODY, "compress")

    def test_bomb_guard(self, monkeypatch):
        bomb = gzip_mod.compress(b"\x00" * (1 << 20))
        monkeypatch.setattr(hp, "MAX_OUTPUT", 1 << 16)
        with pytest.raises(ValueError):
            decode_content_encoding(bomb, "gzip")

    def test_truncated_gzip_rejected(self):
        with pytest.raises(ValueError):
            decode_gzip(gzip_mod.compress(BODY)[:-5])


class TestFullPayload:
    def test_chunked_then_gzip(self):
        raw = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
               b"Transfer-Encoding: chunked\r\n\r\n"
               + _chunked(gzip_mod.compress(BODY)))
        status, headers, body = decode_http_payload(raw)
        assert (status, body) == (200, BODY)

    def test_plain_body_untouched(self):
        raw = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi</p>"
        assert decode_http_payload(raw)[2] == b"<p>hi</p>"


class TestWarcIntegration:
    def _record(self, body_payload: bytes, extra_http: bytes) -> bytes:
        payload = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                   + extra_http + b"\r\n" + body_payload)
        hdr = (f"WARC/1.0\r\nWARC-Type: response\r\n"
               f"WARC-Target-URI: https://x.example/\r\n"
               f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
               f"Content-Length: {len(payload)}\r\n\r\n").encode()
        return hdr + payload + b"\r\n\r\n"

    def test_gzip_and_br_responses_decode(self):
        from graphrag_mrkr_2_spark.sources.loaders import parse_warc_bytes

        html = b"<html><body><p>compressed page</p></body></html>"
        blob = (self._record(gzip_mod.compress(html),
                             b"Content-Encoding: gzip\r\n")
                + self._record(encode_brotli_uncompressed(html),
                               b"Content-Encoding: br\r\n")
                + self._record(_chunked(html),
                               b"Transfer-Encoding: chunked\r\n"))
        pages = parse_warc_bytes(blob)
        assert [p["html"] for p in pages] == [html, html, html]

    def test_corrupt_encoding_quarantines_to_raw(self):
        from graphrag_mrkr_2_spark.sources.loaders import parse_warc_bytes

        junk = b"\x00NOT-GZIP\xff"
        pages = parse_warc_bytes(
            self._record(junk, b"Content-Encoding: gzip\r\n"))
        assert pages[0]["html"] == junk  # raw bytes kept, record not dropped

    @pytest.mark.parametrize("lib,token,encode", [
        ("brotlidec", "br", encode_brotli_uncompressed),
        ("zstd", "zstd", _zstd_compress),
    ])
    def test_missing_library_fails_loudly(self, monkeypatch, lib, token,
                                          encode):
        """br/zstd have one decoder each: without its library the loader
        must raise, not quarantine every such record as malformed."""
        from graphrag_mrkr_2_spark.sources.loaders import parse_warc_bytes

        record = self._record(encode(b"<p>page</p>"),
                              b"Content-Encoding: %s\r\n" % token.encode())
        monkeypatch.setitem(hp._SONAMES, lib, "libmissing-%s.so.1" % lib)
        with pytest.raises(OSError):
            parse_warc_bytes(record)


@pytest.mark.spark
def test_web_decompress_matches_oracle(spark):
    """q_web_decompress end to end: gzip, deflate, br, uncompressed br,
    zstd and chunked+gzip WARC records decoded inside the Python workers
    must equal the DuckDB oracle's rows, columns and values."""
    import sys

    import duckdb
    from test_plan_properties import SF_DIR

    sys.path.insert(0, ".")
    import __spark_entry__ as em

    df = em.q_web_decompress(spark, SF_DIR)
    got = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    res = con.execute(em.oracle_sql()["web_decompress"])
    want = res.fetchall()
    assert df.columns == [d[0] for d in res.description]
    assert len(got) == len(want)
    assert sorted(got) == sorted(want)
    assert {r[1] for r in got} == {"gzip", "deflate", "br", "zstd",
                                   "chunked+gzip"}


class TestPreferNativeSeam:
    """br and zstd decode with the system libbrotlidec/libzstd, bit-exact
    to the plaintext; a malformed stream raises ValueError so the loader
    quarantines that record."""

    def _fixtures(self):
        raw = b"<html>" + b"decoder seam fixture " * 500 + b"</html>"
        return raw, encode_brotli_native(raw, 5), _zstd_compress(raw)

    def test_default_auto_decodes_bit_identical(self):
        raw, br, zs = self._fixtures()
        assert decode_content_encoding(br, "br") == raw
        assert decode_content_encoding(zs, "zstd") == raw

    def test_malformed_stream_still_raises_for_quarantine(self):
        with pytest.raises(ValueError):
            decode_content_encoding(b"\x00\x01\x02garbage", "br")
        with pytest.raises(ValueError):
            decode_content_encoding(b"\x28\xb5\x2f\xfdgarbage", "zstd")
