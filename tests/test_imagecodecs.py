"""Pure-stdlib raster codecs (PNG/BMP/GIF) — round-trips, filter coverage,
LZW edge cases, known-byte vectors, and the Spark image_features wiring."""

import struct
import zlib

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions.imagecodecs import (
    _lzw_decode,
    _lzw_encode,
    decode_bmp,
    decode_gif,
    decode_image,
    decode_png,
    encode_bmp,
    encode_gif,
    encode_png,
    sniff_image,
)
from helpers import image_features_binned


class TestPNG:
    @pytest.mark.parametrize("nch", [1, 2, 3, 4])
    @pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
    def test_roundtrip_all_filters_and_channels(self, nch, ftype):
        rng = np.random.RandomState(nch * 10 + ftype)
        px = rng.randint(0, 256, size=(13, 17, nch), dtype=np.uint8)
        back = decode_png(encode_png(px, filter_type=ftype))
        assert back.shape == px.shape
        assert (back == px).all()

    def test_palette_color_type(self):
        """Hand-built color-type-3 PNG: 2x2 palette image."""
        pal = b"\xff\x00\x00" + b"\x00\xff\x00" + b"\x00\x00\xff"
        # rows: filter 0 + indices
        raw = b"\x00\x00\x01" + b"\x00\x02\x00"
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)

        def chunk(t, d):
            return (
                struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            )

        data = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", pal)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        px = decode_png(data)
        expected = np.array(
            [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 0, 0]]], dtype=np.uint8
        )
        assert (px == expected).all()

    def test_multiple_idat_chunks(self):
        """Decoders must concatenate split IDAT streams."""
        px = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
        data = encode_png(px)
        # split the single IDAT into two chunks
        sig, rest = data[:8], data[8:]
        chunks = []
        pos = 0
        while pos < len(rest):
            (ln,) = struct.unpack(">I", rest[pos : pos + 4])
            chunks.append((rest[pos + 4 : pos + 8], rest[pos + 8 : pos + 8 + ln]))
            pos += 12 + ln

        def chunk(t, d):
            return (
                struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            )

        out = sig
        for t, d in chunks:
            if t == b"IDAT":
                mid = len(d) // 2
                out += chunk(b"IDAT", d[:mid]) + chunk(b"IDAT", d[mid:])
            else:
                out += chunk(t, d)
        assert (decode_png(out) == px).all()

    def test_rejects_garbage_and_unsupported(self):
        with pytest.raises(ValueError, match="signature"):
            decode_png(b"not a png at all")
        px = np.zeros((2, 2, 3), dtype=np.uint8)
        data = bytearray(encode_png(px))
        data[8 + 8 + 12] = 1  # interlace byte inside IHDR
        # CRC not validated; interlace flag must be caught
        with pytest.raises(ValueError, match="interlaced"):
            decode_png(bytes(data))


class TestBMP:
    @pytest.mark.parametrize("w", [1, 2, 3, 4, 5, 17])
    def test_roundtrip_padding_widths(self, w):
        rng = np.random.RandomState(w)
        px = rng.randint(0, 256, size=(7, w, 3), dtype=np.uint8)
        assert (decode_bmp(encode_bmp(px)) == px).all()

    def test_known_bytes_single_red_pixel(self):
        """1x1 red: BGR on disk, bottom-up, row padded to 4 bytes."""
        px = np.array([[[255, 0, 0]]], dtype=np.uint8)
        data = encode_bmp(px)
        assert data[:2] == b"BM"
        (off,) = struct.unpack("<I", data[10:14])
        assert data[off : off + 3] == b"\x00\x00\xff"  # BGR
        assert len(data) == off + 4  # one padded row
        assert (decode_bmp(data) == px).all()

    def test_top_down_negative_height(self):
        px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
        data = bytearray(encode_bmp(px))
        # flip to top-down: negate height and reverse stored row order
        (h,) = struct.unpack("<i", data[22:26])
        data[22:26] = struct.pack("<i", -h)
        (off,) = struct.unpack("<I", bytes(data[10:14]))
        row = (3 * 3 + 3) & ~3
        rows = [bytes(data[off + i * row : off + (i + 1) * row]) for i in range(h)]
        data[off:] = b"".join(reversed(rows))
        assert (decode_bmp(bytes(data)) == px).all()


class TestGIF:
    def test_roundtrip_few_colors(self):
        px = np.zeros((5, 7, 3), dtype=np.uint8)
        px[2:, 3:] = [255, 0, 0]
        px[0, :] = [0, 255, 0]
        assert (decode_gif(encode_gif(px)) == px).all()

    def test_roundtrip_fills_12bit_dictionary(self):
        """80x90 random 256-color image: the LZW table crosses 4096 entries,
        exercising width growth to 12 bits and the clear/reset path."""
        rng = np.random.RandomState(3)
        pal = rng.randint(0, 256, size=(256, 3), dtype=np.uint8)
        px = pal[rng.randint(0, 256, size=(80, 90))]
        back = decode_gif(encode_gif(px))
        assert back.shape == px.shape and (back == px).all()

    def test_too_many_colors_rejected(self):
        rng = np.random.RandomState(4)
        px = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)
        if len(np.unique(px.reshape(-1, 3), axis=0)) > 256:
            with pytest.raises(ValueError, match="256"):
                encode_gif(px)

    def test_lzw_known_vector(self):
        """Classic GIF spec-style stream: indices over a 4-color table at
        min code size 2 — decode must invert encode AND grow code width at
        the documented boundary (entry 8 -> 4-bit codes)."""
        indices = [0, 1, 2, 3] * 8
        data = _lzw_encode(indices, 2)
        assert _lzw_decode(data, 2) == indices

    def test_extension_blocks_skipped(self):
        px = np.zeros((2, 2, 3), dtype=np.uint8)
        data = bytearray(encode_gif(px))
        # splice a Graphic Control Extension right before the image
        # descriptor (0x2C)
        i = data.index(0x2C)
        gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        data[i:i] = gce
        assert (decode_gif(bytes(data)) == px).all()


class TestSniffAndDispatch:
    def test_sniff(self):
        px = np.zeros((2, 2, 3), dtype=np.uint8)
        assert sniff_image(encode_png(px)) == "png"
        assert sniff_image(encode_bmp(px)) == "bmp"
        assert sniff_image(encode_gif(px)) == "gif"
        assert sniff_image(b"\xff\xd8\xff\xe0") == "jpeg"
        assert sniff_image(b"II*\x00") == "tiff"
        assert sniff_image(b"RIFFxxxxWEBP") == "webp"  # r5: lossless decodes
        assert sniff_image(b"RIFFxxxxWAVE") is None  # other RIFF: not image
        assert sniff_image(b"") is None

    def test_decode_image_dispatch(self):
        px = np.full((3, 4, 3), 9, dtype=np.uint8)
        from graphrag_mrkr_2_spark.functions.webpcodec import encode_webp_lossless

        for enc in (encode_png, encode_bmp, encode_gif, encode_webp_lossless):
            assert (decode_image(enc(px)) == px).all()
        with pytest.raises(ValueError, match="unrecognized"):
            decode_image(b"ABCDxxxxWXYZdata")
        # a recognized WEBP container with a garbage lossy VP8 payload fails
        # loudly in the VP8 decoder (r5: lossy WEBP decodes for real)
        with pytest.raises(ValueError, match="VP8"):
            decode_image(
                b"RIFF" + (16).to_bytes(4, "little") + b"WEBP"
                + b"VP8 " + (4).to_bytes(4, "little") + b"\x00\x00\x00\x00"
            )


@pytest.mark.spark
class TestSparkWiring:
    def test_image_features_uses_real_pixels(self, spark):
        """A black PNG and a white PNG must land their full histogram mass
        in the first/last bin — impossible with the hash-seeded fake."""
        black = encode_png(np.zeros((8, 8, 3), dtype=np.uint8))
        white = encode_png(np.full((8, 8, 3), 255, dtype=np.uint8))
        media = spark.createDataFrame(
            [
                ("black", "image", bytearray(black), ("png", 8, 8, None)),
                ("white", "image", bytearray(white), ("png", 8, 8, None)),
            ],
            "media_id string, kind string, payload binary, "
            "meta struct<codec:string,width:int,height:int,duration_ms:int>",
        )
        feats = {
            r["media_id"]: r["feature"]
            for r in image_features_binned(media, 4, strict=True, decoder=False).collect()
        }
        assert feats["black"][0] == pytest.approx(1.0)
        assert feats["white"][-1] == pytest.approx(1.0)

    def test_strict_still_raises_for_undecodable_webp(self, spark):
        """r5: lossless WEBP decodes for real, so strict-mode raising now
        applies to corrupt containers and the lossy-VP8 seam."""
        from graphrag_mrkr_2_spark.operators.multimodal import image_features

        lossy = (
            b"RIFF" + (16).to_bytes(4, "little") + b"WEBP"
            + b"VP8 " + (4).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        )
        media = spark.createDataFrame(
            [
                ("corrupt", "image", bytearray(b"RIFFxxxxWEBPdata"), ("webp", 4, 4, None)),
                ("lossy", "image", bytearray(lossy), ("webp", 4, 4, None)),
            ],
            "media_id string, kind string, payload binary, "
            "meta struct<codec:string,width:int,height:int,duration_ms:int>",
        )
        with pytest.raises(Exception, match="lossy|VP8L|codec"):
            image_features(media, strict=True, decoder=False).collect()
        # non-strict: both quarantine to the deterministic fake
        assert image_features(media, strict=False, decoder=False).count() == 2

    def test_roundtrip_checksums_match_formula(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import (
            image_roundtrip_checksums,
        )

        ids = spark.createDataFrame([(i,) for i in (0, 1, 7, 123)], "doc_id long")
        rows = {
            r["doc_id"]: r
            for r in image_roundtrip_checksums(ids, width=16, height=12).collect()
        }
        for i in (0, 1, 7, 123):
            expected = 0
            for r in range(12):
                for c in range(16):
                    for ch in range(3):
                        expected += ((i * 7 + r * 31 + c * 13 + ch * 5) % 256) * (
                            (r * 16 + c) * 3 + ch + 1
                        )
            row = rows[str(i)]
            assert row["png_checksum"] == str(expected)
            assert row["bmp_checksum"] == str(expected)
            assert row["gif_checksum"] == str(expected)


class TestAnimatedGif:
    def test_multiframe_roundtrip_with_delays(self):
        from graphrag_mrkr_2_spark.functions.imagecodecs import gif_frames
        from media_fixtures import encode_gif_frames

        rng = np.random.RandomState(2)
        pal = rng.randint(0, 256, size=(64, 3), dtype=np.uint8)
        frames = [pal[rng.randint(0, 64, size=(9, 11))] for _ in range(4)]
        delays = [40, 80, 120, 0]
        data = encode_gif_frames(frames, delays)
        got = gif_frames(data)
        assert [d for d, _ in got] == delays
        for (_, g), f in zip(got, frames):
            assert g.shape == f.shape and (g == f).all()

    def test_first_frame_matches_decode_gif(self):
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_gif, gif_frames
        from media_fixtures import encode_gif_frames

        frames = [
            np.full((5, 6, 3), 10, dtype=np.uint8),
            np.full((5, 6, 3), 200, dtype=np.uint8),
        ]
        data = encode_gif_frames(frames, [100] * len(frames))
        assert (decode_gif(data) == gif_frames(data)[0][1]).all()

    def test_transparency_and_partial_frame_compositing(self):
        """Hand-build frame 2 as a sub-rectangle with a transparent index:
        transparent pixels must show frame 1's pixels through."""
        import struct

        from graphrag_mrkr_2_spark.functions.imagecodecs import (
            _lzw_encode,
            gif_frames,
        )

        # palette: 0=red 1=green 2=blue(transparent stand-in)
        table = b"\xff\x00\x00" + b"\x00\xff\x00" + b"\x00\x00\xff" + b"\x00\x00\x00"
        out = bytearray(b"GIF89a")
        out += struct.pack("<HHBBB", 4, 4, 0x80 | 1, 0, 0)  # 4-entry table
        out += table

        def img(left, top, w, h, indices, gce=None):
            if gce is not None:
                out.extend(b"\x21\xf9\x04" + gce + b"\x00")
            out.extend(b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0))
            out.append(2)
            seg = _lzw_encode(indices, 2)
            for i in range(0, len(seg), 255):
                chunk = seg[i : i + 255]
                out.append(len(chunk))
                out.extend(chunk)
            out.append(0)

        img(0, 0, 4, 4, [0] * 16)  # frame 1: all red
        # frame 2: 2x2 box at (1,1): [green, transparent, transparent, green]
        img(1, 1, 2, 2, [1, 2, 2, 1], gce=struct.pack("<BHB", 0x01, 5, 2))
        out += b"\x3b"

        frames = gif_frames(bytes(out))
        assert len(frames) == 2
        f2 = frames[1][1]
        assert (f2[1, 1] == [0, 255, 0]).all()  # green drawn
        assert (f2[1, 2] == [255, 0, 0]).all()  # transparent -> red beneath
        assert (f2[2, 1] == [255, 0, 0]).all()
        assert (f2[2, 2] == [0, 255, 0]).all()
        assert frames[1][0] == 50  # 5 cs -> 50 ms

    def test_overhanging_frame_rect_clipped(self):
        """A frame rect extending past the logical screen must clip (as
        browsers do), not crash (review r4 pass-4 finding #3)."""
        import struct as _s

        from graphrag_mrkr_2_spark.functions.imagecodecs import (
            _lzw_encode,
            gif_frames,
        )

        table = b"\xff\x00\x00" + b"\x00\xff\x00" + b"\x00\x00\xff" + b"\x00\x00\x00"
        out = bytearray(b"GIF89a")
        out += _s.pack("<HHBBB", 4, 4, 0x80 | 1, 0, 0)
        out += table
        # 4x5 image on a 4x4 screen: bottom row must be dropped
        out += b"\x2c" + _s.pack("<HHHHB", 0, 0, 4, 5, 0)
        out.append(2)
        seg = _lzw_encode([1] * 20, 2)
        for i in range(0, len(seg), 255):
            out.append(len(seg[i : i + 255]))
            out += seg[i : i + 255]
        out += b"\x00\x3b"
        frames = gif_frames(bytes(out))
        assert frames[0][1].shape == (4, 4, 3)
        assert (frames[0][1] == [0, 255, 0]).all()

    def test_encoder_validates_shapes_and_delays(self):
        from media_fixtures import encode_gif_frames

        a = np.zeros((4, 4, 3), dtype=np.uint8)
        b = np.zeros((2, 2, 3), dtype=np.uint8)
        with pytest.raises(ValueError, match="uniform"):
            encode_gif_frames([a, b], [100, 100])
        with pytest.raises(ValueError, match="delays"):
            encode_gif_frames([a, a], delays_ms=[10])
