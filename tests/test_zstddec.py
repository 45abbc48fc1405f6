"""Zstandard Content-Encoding (functions/httppayload.py, system libzstd)
— RFC 8878 conformance.

The oracle is the plaintext: fixtures compressed by libzstd at every level
and parameter combination (or hand-built frames) must decode back to
exactly the input. Truncations, checksum tampering, bad magic, dictionary
frames, hostile headers and the max_output / block-size bomb guards must
raise ValueError — the error the WARC loader quarantines on — and corrupt
or random input must never raise anything else.
"""

from __future__ import annotations

import ctypes
import os
import random

import pytest

from graphrag_mrkr_2_spark.functions import httppayload
from graphrag_mrkr_2_spark.functions.httppayload import (
    decode_content_encoding,
    decode_zstd_native,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _corpora() -> list[bytes]:
    rng = random.Random(7)
    return [
        b"",
        b"a",
        b"hello world",
        b"The quick brown fox jumps over the lazy dog. " * 200,
        bytes(rng.randrange(256) for _ in range(5000)),
        b"\x00" * 10000,
        "Καλημέρα κόσμε — 你好世界\n".encode() * 400,
        open(os.path.join(_REPO, "SURVEY.md"), "rb").read()[:50000],
    ]


def _compress2(data: bytes, level: int = 3, checksum: int = 0,
               content_size: int = 1) -> bytes:
    lib = ctypes.CDLL("libzstd.so.1")
    lib.ZSTD_createCCtx.restype = ctypes.c_void_p
    lib.ZSTD_CCtx_setParameter.restype = ctypes.c_size_t
    lib.ZSTD_CCtx_setParameter.argtypes = [ctypes.c_void_p, ctypes.c_int,
                                           ctypes.c_int]
    lib.ZSTD_compress2.restype = ctypes.c_size_t
    lib.ZSTD_compress2.argtypes = [ctypes.c_void_p, ctypes.c_char_p,
                                   ctypes.c_size_t, ctypes.c_char_p,
                                   ctypes.c_size_t]
    lib.ZSTD_compressBound.restype = ctypes.c_size_t
    lib.ZSTD_isError.restype = ctypes.c_uint
    lib.ZSTD_isError.argtypes = [ctypes.c_size_t]
    lib.ZSTD_freeCCtx.argtypes = [ctypes.c_void_p]
    c = lib.ZSTD_createCCtx()
    lib.ZSTD_CCtx_setParameter(c, 100, level)        # compressionLevel
    lib.ZSTD_CCtx_setParameter(c, 201, checksum)     # checksumFlag
    lib.ZSTD_CCtx_setParameter(c, 200, content_size)  # contentSizeFlag
    bound = lib.ZSTD_compressBound(len(data))
    dst = ctypes.create_string_buffer(bound)
    n = lib.ZSTD_compress2(c, dst, bound, data, len(data))
    assert not lib.ZSTD_isError(n)
    lib.ZSTD_freeCCtx(c)
    return dst.raw[:n]


class TestAgainstSystemZstd:
    def test_roundtrip_levels_and_flags(self):
        # levels pick distinct encoder strategies (fast/dfast/greedy/
        # lazy2/btopt/btultra2); content_size=0 forces the streaming-style
        # header (window descriptor, no FCS); checksum exercises XXH64
        for t in _corpora():
            for lvl in (1, 3, 6, 12, 19, 22):
                for ck in (0, 1):
                    for cs in (0, 1):
                        blob = _compress2(t, lvl, ck, cs)
                        assert decode_zstd_native(blob) == t, (len(t), lvl, ck, cs)

    def test_multiblock_with_table_repeats(self):
        # >128 KiB forces multiple blocks: treeless literal repeats and
        # repeat FSE tables carry across block boundaries
        big = (" ".join(f"tok{i % 571}" for i in range(120000))).encode()
        for lvl in (1, 3, 19):
            assert decode_zstd_native(_compress2(big, lvl, checksum=1)) == big

    def test_concatenated_frames_and_skippable(self):
        a, b = b"first frame " * 100, b"second frame " * 100
        skip = ((0x184D2A50).to_bytes(4, "little")
                + (5).to_bytes(4, "little") + b"metaX")
        blob = skip + _compress2(a, 3, 1) + skip + _compress2(b, 19, 1)
        assert decode_zstd_native(blob) == a + b

    def test_truncation_rejected_by_both(self):
        """Every sampled prefix must be rejected, by the decoder and by the
        Content-Encoding chain alike."""
        rng = random.Random(1)
        stream = _compress2(
            open(os.path.join(_REPO, "SURVEY.md"), "rb").read()[:30000], 9)
        for cut in sorted(rng.sample(range(1, len(stream)), 40)):
            with pytest.raises(ValueError):
                decode_zstd_native(stream[:cut])
            with pytest.raises(ValueError):
                decode_content_encoding(stream[:cut], "zstd")

    def test_bit_corruption_never_crashes(self, monkeypatch):
        """Single-bit flips: each one decodes to bytes or raises
        ValueError, never anything else. libzstd skips Huffman-stream
        consumption checks, so some corrupt literal sections decode to
        garbage rather than fail; the frame checksum catches those."""
        monkeypatch.setattr(httppayload, "MAX_OUTPUT", 10_000_000)
        rng = random.Random(2)
        plain = open(os.path.join(_REPO, "SURVEY.md"), "rb").read()[:30000]
        stream = _compress2(plain, 9, checksum=1)
        rejected = 0
        for _ in range(150):
            b = bytearray(stream)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                out = decode_zstd_native(bytes(b))
            except ValueError:
                rejected += 1
            else:
                assert out == plain  # the checksum let only no-ops through
        assert rejected

    def test_checksum_detects_tamper(self):
        blob = bytearray(_compress2(b"checksummed payload " * 50, 3,
                                    checksum=1))
        # flip a bit in the stored checksum (last 4 bytes)
        blob[-2] ^= 1
        with pytest.raises(ValueError, match="checksum"):
            decode_zstd_native(bytes(blob))


class TestPureOnly:
    """Hand-built frames and guards: no encoder parameters involved."""

    def test_bad_magic(self):
        with pytest.raises(ValueError):
            decode_zstd_native(b"\x00\x01\x02\x03\x04\x05")

    def test_dictionary_id_rejected(self):
        # frame header declaring a 1-byte dictionary id of 7
        hdr = (0xFD2FB528).to_bytes(4, "little") + bytes([0x01, 0x00, 7])
        with pytest.raises(ValueError, match="(?i)dictionary"):
            decode_zstd_native(hdr + b"\x01\x00\x00")

    def test_max_output_guard(self, monkeypatch):
        blob = _compress2(b"x" * 100_000, 3)
        monkeypatch.setattr(httppayload, "MAX_OUTPUT", 100_000)
        assert len(decode_zstd_native(blob)) == 100_000
        monkeypatch.setattr(httppayload, "MAX_OUTPUT", 99_999)
        with pytest.raises(ValueError):
            decode_zstd_native(blob)
        # raw block: hand-build a tiny frame
        frame = ((0xFD2FB528).to_bytes(4, "little")
                 + bytes([0x20, 4])          # single-segment, FCS=4
                 + (4 * 8 + 1).to_bytes(3, "little") + b"abcd")
        monkeypatch.undo()
        assert decode_zstd_native(frame) == b"abcd"
        monkeypatch.setattr(httppayload, "MAX_OUTPUT", 3)
        with pytest.raises(ValueError):
            decode_zstd_native(frame)

    def test_rle_block(self):
        # single-segment frame: one RLE block of 10 x 'z'
        frame = ((0xFD2FB528).to_bytes(4, "little")
                 + bytes([0x20, 10])
                 + ((10 << 3) | (1 << 1) | 1).to_bytes(3, "little") + b"z")
        assert decode_zstd_native(frame) == b"z" * 10

    def test_block_maximum_size_bomb_guard(self):
        """A hand-crafted ~25-byte frame whose one sequence expands to
        65 KiB against a 1 KiB window must be rejected (Block_Maximum_Size)
        rather than expanded."""
        block = bytes([
            0x51, 0x41,        # RLE literals, regen 10, byte 'A'
            0x01,              # one sequence
            0x54,              # LL/OF/ML all RLE mode
            10, 0, 52,         # LL sym 10 (ll=10), OF sym 0, ML sym 52
            0x00, 0x00, 0x01,  # backward bitstream: 16 ml-extra bits + sentinel
        ])
        frame = ((0xFD2FB528).to_bytes(4, "little")
                 + bytes([0x00, 0x00])  # window descriptor: 1 KiB window
                 + ((len(block) << 3) | (2 << 1) | 1).to_bytes(3, "little")
                 + block)
        with pytest.raises(ValueError):
            decode_zstd_native(frame)

    def test_hostile_headers_raise_valueerror_not_indexerror(self):
        """A truncated literal header must raise ValueError, the only
        error the loader's quarantine catches."""
        # compressed block of 1 byte: raw literals with size_format 1
        f2 = ((0xFD2FB528).to_bytes(4, "little") + bytes([0x00, 0x00])
              + ((1 << 3) | (2 << 1) | 1).to_bytes(3, "little")
              + bytes([0x04]))
        with pytest.raises(ValueError):
            decode_zstd_native(f2)
        # a zero-size compressed block: libzstd reads it as an empty block
        # and invents no bytes
        assert decode_zstd_native(bytes.fromhex("28b52ffd0000050000")) == b""

    def test_fuzz_never_crashes(self, monkeypatch):
        monkeypatch.setattr(httppayload, "MAX_OUTPUT", 1 << 20)
        rng = random.Random(3)
        magic = (0xFD2FB528).to_bytes(4, "little")
        for _ in range(500):
            blob = magic + bytes(rng.randrange(256)
                                 for _ in range(rng.randrange(1, 120)))
            try:
                decode_zstd_native(blob)
            except ValueError:
                pass
