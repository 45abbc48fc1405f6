"""Baseline JPEG codec: lossy round-trip error bounds, structural checks,
marker handling, and dispatch through decode_image/image_features."""

import struct

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions.jpegcodec import (
    _AC_CHROMA,
    _AC_LUMA,
    _DC_CHROMA,
    _DC_LUMA,
    _DCT,
    decode_jpeg,
    encode_jpeg,
)
from helpers import encode_jpeg_at, image_features_binned


class TestTables:
    def test_annex_k_huffman_counts(self):
        for bits, vals in (_DC_LUMA, _DC_CHROMA, _AC_LUMA, _AC_CHROMA):
            assert sum(bits) == len(vals)
        assert len(_AC_LUMA[1]) == 162 and len(_AC_CHROMA[1]) == 162

    def test_dct_matrix_orthonormal(self):
        assert np.allclose(_DCT @ _DCT.T, np.eye(8), atol=1e-12)


class TestRoundtrip:
    def test_constant_image_exact(self):
        for v in (0, 77, 128, 255):
            px = np.full((16, 16, 3), v, dtype=np.uint8)
            back = decode_jpeg(encode_jpeg_at(px, quality=90))
            assert back.shape == px.shape
            assert int(np.abs(back.astype(int) - int(v)).max()) <= 1

    def test_smooth_gradient_tight_bound(self):
        yy, xx = np.mgrid[0:32, 0:48]
        px = np.stack(
            [40 + yy * 2, 60 + xx, 50 + yy + xx], axis=2
        ).astype(np.uint8)
        back = decode_jpeg(encode_jpeg_at(px, quality=95))
        err = np.abs(back.astype(int) - px.astype(int))
        assert err.max() <= 4, err.max()

    def test_noise_image_bounded(self):
        rng = np.random.RandomState(11)
        px = rng.randint(0, 256, size=(24, 24, 3), dtype=np.uint8)
        back = decode_jpeg(encode_jpeg_at(px, quality=95))
        err = np.abs(back.astype(int) - px.astype(int))
        # noise is the worst case for DCT coding; q95 keeps it moderate
        assert err.mean() < 12, err.mean()

    def test_quality_monotonic(self):
        yy, xx = np.mgrid[0:24, 0:24]
        px = np.stack([yy * 5 % 250, xx * 5 % 250, (yy + xx) * 3 % 250], axis=2).astype(
            np.uint8
        )
        errs = []
        for q in (30, 60, 95):
            back = decode_jpeg(encode_jpeg_at(px, quality=q))
            errs.append(float(np.abs(back.astype(int) - px.astype(int)).mean()))
        assert errs[0] >= errs[1] >= errs[2]

    def test_non_multiple_of_8_sizes(self):
        rng = np.random.RandomState(5)
        for h, w in ((1, 1), (7, 9), (17, 23), (8, 13)):
            px = np.clip(
                rng.randint(60, 90, size=(h, w, 3)).astype(np.uint8), 0, 255
            )
            back = decode_jpeg(encode_jpeg_at(px, quality=95))
            assert back.shape == (h, w, 3)
            assert np.abs(back.astype(int) - px.astype(int)).mean() < 16

    def test_420_subsampling_roundtrip(self):
        """4:2:0 exercises the decoder's interleaved-MCU loop (2x2 Y blocks
        per MCU) and the 2x chroma upsampling path — untouched by 4:4:4."""
        yy, xx = np.mgrid[0:33, 0:47]
        px = np.stack([40 + yy * 2, 60 + xx, 50 + yy + xx], axis=2).astype(np.uint8)
        back = decode_jpeg(encode_jpeg_at(px, quality=95, subsampling="420"))
        assert back.shape == px.shape
        err = np.abs(back.astype(int) - px.astype(int))
        assert err.max() <= 8 and err.mean() < 1.5
        # constant image through 4:2:0 is exact
        const = np.full((20, 20, 3), 99, dtype=np.uint8)
        back_c = decode_jpeg(encode_jpeg_at(const, quality=90, subsampling="420"))
        assert int(np.abs(back_c.astype(int) - 99).max()) == 0

    def test_bad_subsampling_rejected(self):
        with pytest.raises(ValueError, match="subsampling"):
            encode_jpeg_at(np.zeros((8, 8, 3), dtype=np.uint8), subsampling="422")

    def test_grayscale(self):
        yy, xx = np.mgrid[0:16, 0:16]
        px = (yy * 8 + xx).astype(np.uint8)
        back = decode_jpeg(encode_jpeg_at(px, quality=95))
        assert back.shape == (16, 16, 1)
        assert np.abs(back[:, :, 0].astype(int) - px.astype(int)).max() <= 6


class TestStructure:
    def test_markers_present(self):
        data = encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8))
        assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
        for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
            assert marker in data

    def test_app_and_comment_segments_skipped(self):
        px = np.full((8, 8, 3), 90, dtype=np.uint8)
        data = encode_jpeg(px)
        com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
        app2 = b"\xff\xe2" + struct.pack(">H", 6) + b"ICCx"
        spliced = data[:2] + com + app2 + data[2:]
        back = decode_jpeg(spliced)
        assert int(np.abs(back.astype(int) - 90).max()) <= 1

    def test_fill_bytes_before_marker(self):
        """0xFF fill bytes before a marker are legal padding (B.1.1.2) —
        they must not be misread as a marker with a garbage length."""
        px = np.full((8, 8, 3), 90, dtype=np.uint8)
        data = encode_jpeg(px)
        i = data.index(b"\xff\xdb")
        spliced = data[:i] + b"\xff\xff\xff" + data[i:]
        back = decode_jpeg(spliced)
        assert int(np.abs(back.astype(int) - 90).max()) <= 1

    def test_lossless_rejected_cleanly(self):
        data = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
        i = bytes(data).index(b"\xff\xc0")
        data[i + 1] = 0xC3  # flip SOF0 -> SOF3 (lossless)
        with pytest.raises(ValueError, match="SOF2"):
            decode_jpeg(bytes(data))

    def test_baseline_stream_with_sof2_marker_rejected(self):
        """A baseline full-band scan (Ss=0, Se=63) is illegal under a
        progressive SOF — the decoder must refuse rather than misparse."""
        data = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
        i = bytes(data).index(b"\xff\xc0")
        data[i + 1] = 0xC2
        with pytest.raises(ValueError, match="spectral"):
            decode_jpeg(bytes(data))

    def test_garbage_rejected(self):
        with pytest.raises(ValueError, match="SOI"):
            decode_jpeg(b"not a jpeg")


class TestDispatch:
    def test_decode_image_routes_jpeg(self):
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_image

        px = np.full((9, 11, 3), 130, dtype=np.uint8)
        back = decode_image(encode_jpeg_at(px, quality=90))
        assert back.shape == (9, 11, 3)
        assert int(np.abs(back.astype(int) - 130).max()) <= 1

    @pytest.mark.spark
    def test_image_features_decodes_jpeg(self, spark):
        dark = encode_jpeg_at(np.full((8, 8, 3), 5, dtype=np.uint8), quality=95)
        media = spark.createDataFrame(
            [("d", "image", bytearray(dark), ("jpeg", 8, 8, None))],
            "media_id string, kind string, payload binary, "
            "meta struct<codec:string,width:int,height:int,duration_ms:int>",
        )
        feats = image_features_binned(media, 4, strict=True, decoder=False).collect()
        assert feats[0]["feature"][0] == pytest.approx(1.0)


class TestTruncatedRestart:
    def test_align_restart_truncation_raises_valueerror(self):
        """A stream truncated before an expected restart marker must raise
        the codec's ValueError contract, not IndexError (ADVICE r4)."""
        from graphrag_mrkr_2_spark.functions.jpegcodec import _BitReader

        br = _BitReader(b"\x12\x34\x56", 0)
        with pytest.raises(ValueError, match="truncated"):
            br.align_restart()

    def test_align_restart_still_consumes_marker(self):
        from graphrag_mrkr_2_spark.functions.jpegcodec import _BitReader

        br = _BitReader(b"\x00\xff\xd3\xab", 0)
        br.align_restart()
        assert br.pos == 3
