"""Brotli Content-Encoding (functions/httppayload.py, system libbrotlidec)
— RFC 7932 conformance.

The oracle is the plaintext: fixtures are compressed by libbrotlienc at
every quality, window and mode (or by this repo's uncompressed-metablock
encoder, or assembled by hand) and must decode back to exactly the input.
Truncations, trailing garbage, format violations and the max_output bomb
guard must raise ValueError — the error the WARC loader quarantines on —
and corrupt or random input must never raise anything else. The reference
(danve93/graphrag-mrkr-2) has no compression layer at all — this backs the
webtext Content-Encoding path.
"""

from __future__ import annotations

import os
import random
from unittest import mock

import pytest

from graphrag_mrkr_2_spark.functions import httppayload
from graphrag_mrkr_2_spark.functions.httppayload import (
    decode_brotli_native,
    decode_content_encoding,
    encode_brotli_native,
    encode_brotli_uncompressed,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _corpora() -> list[bytes]:
    rng = random.Random(7)
    return [
        b"",
        b"a",
        b"hello world",
        b"The quick brown fox jumps over the lazy dog. " * 200,
        bytes(rng.randrange(256) for _ in range(5000)),   # incompressible
        b"\x00" * 10000,                                  # degenerate runs
        ("<html><body>" + "word common data time life back. " * 500
         + "</body></html>").encode(),
        "Καλημέρα κόσμε — 你好世界 — مرحبا بالعالم\n".encode() * 300,
        open(os.path.join(_REPO, "SURVEY.md"), "rb").read()[:50000],
    ]


class TestAgainstSystemBrotli:
    def test_roundtrip_all_qualities_windows_modes(self):
        # qualities pick distinct encoder paths (q0/q1 fast two-pass, q2-9
        # hash chains, q10/q11 zopflification + static dictionary); small
        # windows force dictionary references, mode 1 is TEXT
        for t in _corpora():
            for q in (0, 1, 2, 5, 9, 11):
                for w in (10, 18, 24):
                    for mode in (0, 1):
                        with mock.patch.multiple(httppayload, BROTLI_LGWIN=w,
                                                 BROTLI_MODE=mode):
                            c = encode_brotli_native(t, q)
                        assert decode_brotli_native(c) == t, (len(t), q, w,
                                                              mode)

    def test_truncation_agreement(self):
        """Every proper prefix must be rejected, by the decoder and by the
        Content-Encoding chain alike."""
        rng = random.Random(1)
        stream = encode_brotli_native(
            open(os.path.join(_REPO, "SURVEY.md"), "rb").read()[:20000], 9)
        cuts = sorted(rng.sample(range(1, len(stream)), 40))
        cuts += [len(stream) - 1]
        for cut in cuts:
            with pytest.raises(ValueError):
                decode_brotli_native(stream[:cut])
            with pytest.raises(ValueError):
                decode_content_encoding(stream[:cut], "br")

    def test_bit_corruption_agreement(self):
        """Single-bit flips: the decoder returns bytes or raises
        ValueError, never anything else, and the WARC loader agrees with
        it — decoded bytes when it accepts, the raw body (quarantine) when
        it rejects."""
        from graphrag_mrkr_2_spark.sources.loaders import parse_warc_bytes

        rng = random.Random(2)
        stream = encode_brotli_native(
            open(os.path.join(_REPO, "SURVEY.md"), "rb").read()[:20000], 9)
        rejected = 0
        for _ in range(150):
            b = bytearray(stream)
            i = rng.randrange(len(b))
            b[i] ^= 1 << rng.randrange(8)
            body = bytes(b)
            try:
                expect = decode_brotli_native(body)
            except ValueError:
                expect = body
                rejected += 1
            payload = (b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n"
                       + body)
            record = (b"WARC/1.0\r\nWARC-Type: response\r\n"
                      b"Content-Length: %d\r\n\r\n" % len(payload)
                      + payload + b"\r\n\r\n")
            assert parse_warc_bytes(record)[0]["html"] == expect, i
        assert rejected  # corruption is detected, not silently accepted

    def test_native_accepts_our_uncompressed_encoder(self):
        for t in _corpora():
            assert decode_brotli_native(encode_brotli_uncompressed(t)) == t


class TestPureDecoder:
    """Streams from the uncompressed-metablock encoder or assembled by
    hand: no encoder library involved."""

    def test_uncompressed_roundtrip(self):
        for t in _corpora():
            assert decode_brotli_native(encode_brotli_uncompressed(t)) == t

    def test_uncompressed_multi_metablock(self):
        data = bytes(range(256)) * 1024  # 256 KiB -> four metablocks
        assert decode_brotli_native(encode_brotli_uncompressed(data)) == data

    def test_empty_input_rejected(self):
        with pytest.raises(ValueError):
            decode_brotli_native(b"")

    def test_trailing_garbage_rejected(self):
        s = encode_brotli_uncompressed(b"hi")
        with pytest.raises(ValueError):
            decode_brotli_native(s + b"\x00")

    def test_max_output_guard(self, monkeypatch):
        s = encode_brotli_uncompressed(b"x" * 100_000)
        monkeypatch.setattr(httppayload, "MAX_OUTPUT", 100_000)
        assert len(decode_brotli_native(s)) == 100_000
        monkeypatch.setattr(httppayload, "MAX_OUTPUT", 99_999)
        with pytest.raises(ValueError):
            decode_brotli_native(s)
        bomb = encode_brotli_native(b"\x00" * (4 << 20), 5)  # ~1e4:1
        monkeypatch.setattr(httppayload, "MAX_OUTPUT", 1 << 20)
        with pytest.raises(ValueError, match="max_output"):
            decode_brotli_native(bomb)

    def test_metadata_block_skipped(self):
        # hand-assembled: WBITS=16, one metadata block (2 skip bytes), then
        # an uncompressed block, then ISLAST+ISLASTEMPTY
        payload = b"ok"
        # 304 bytes: the 2-byte little-endian skip length must have a
        # non-zero high byte (zero-padded lengths are a format error)
        meta = b"IGNORED-METADATA" * 19
        bits = []

        def put(v, n):
            bits.append((v, n))

        put(0, 1)            # WBITS 16
        put(0, 1)            # ISLAST = 0
        put(3, 2)            # MNIBBLES code 3 -> metadata block
        put(0, 1)            # reserved
        put(2, 2)            # MSKIPBYTES = 2
        put(len(meta) - 1, 16)  # MSKIPLEN - 1, little-endian bytes
        out = bytearray()
        acc = nacc = 0
        for v, n in bits:
            acc |= v << nacc
            nacc += n
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
        if nacc:
            out.append(acc & 0xFF)  # zero padding to byte boundary
        out += meta
        # remainder of the stream is byte-aligned: reuse the uncompressed
        # encoder minus its WBITS bit by re-assembling manually
        bits = [(0, 1), (0, 2), (len(payload) - 1, 16), (1, 1)]
        acc = nacc = 0
        for v, n in bits:
            acc |= v << nacc
            nacc += n
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
        if nacc:
            out.append(acc & 0xFF)
        out += payload
        out.append(0x03)  # ISLAST, ISLASTEMPTY
        assert decode_brotli_native(bytes(out)) == payload

    def test_nonzero_padding_rejected(self):
        s = bytearray(encode_brotli_uncompressed(b"hi"))
        # final byte carries ISLAST+ISLASTEMPTY in its low 2 bits; the rest
        # is padding that must be zero
        s[-1] |= 0x80
        with pytest.raises(ValueError):
            decode_brotli_native(bytes(s))

    def test_fuzz_never_crashes(self, monkeypatch):
        """Random garbage must raise ValueError, never anything else."""
        monkeypatch.setattr(httppayload, "MAX_OUTPUT", 1 << 20)
        rng = random.Random(3)
        for _ in range(500):
            blob = bytes(rng.randrange(256)
                         for _ in range(rng.randrange(1, 200)))
            try:
                decode_brotli_native(blob)
            except ValueError:
                pass
