"""Baseline TIFF codec: round-trips, PackBits spec vector, big-endian and
WhiteIsZero handling, dispatch through decode_image."""

import struct

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions.tiffcodec import decode_tiff, _unpackbits
from media_fixtures import encode_tiff


class TestRoundtrip:
    @pytest.mark.parametrize("channels", [1, 3, 4])
    def test_roundtrip(self, channels):
        rng = np.random.RandomState(channels)
        px = rng.randint(0, 256, size=(13, 17, channels), dtype=np.uint8)
        back = decode_tiff(encode_tiff(px))
        assert back.shape == px.shape and (back == px).all()

    def test_2d_grayscale_input(self):
        px = np.arange(64, dtype=np.uint8).reshape(8, 8)
        back = decode_tiff(encode_tiff(px))
        assert back.shape == (8, 8, 1)
        assert (back[:, :, 0] == px).all()


class TestPackBits:
    def test_spec_vector(self):
        """The worked example from TIFF 6.0 §9."""
        comp = bytes(
            [0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA, 0x03, 0x80,
             0x00, 0x2A, 0x22, 0xF7, 0xAA]
        )
        exp = bytes(
            [0xAA] * 3 + [0x80, 0x00, 0x2A] + [0xAA] * 4
            + [0x80, 0x00, 0x2A, 0x22] + [0xAA] * 10
        )
        assert _unpackbits(comp, len(exp)) == exp

    def test_noop_byte_skipped(self):
        assert _unpackbits(bytes([0x80, 0x01, 0x41, 0x42]), 2) == b"AB"

    def test_packbits_compressed_strip_decodes(self):
        """Hand-build a PackBits-compressed 1-strip grayscale TIFF."""
        px = np.tile(np.array([7], dtype=np.uint8), (2, 8))  # constant rows
        # each row: 8x 0x07 -> run of 8: code -7, value 7
        strip = bytes(struct.pack("b", -7) + b"\x07") * 2
        data = bytearray(encode_tiff(px))
        # patch: compression tag 259 value 1 -> 32773, splice new strip
        base = decode_tiff(bytes(data))  # sanity: uncompressed decodes
        assert (base[:, :, 0] == 7).all()
        # rebuild manually with compression=32773
        body = strip
        ifd_off = 8 + len(body)
        out = bytearray(b"II" + struct.pack("<HI", 42, ifd_off))
        out += body
        entries = [
            (256, 4, 1, struct.pack("<I", 8)),
            (257, 4, 1, struct.pack("<I", 2)),
            (258, 3, 1, struct.pack("<HH", 8, 0)),
            (259, 3, 1, struct.pack("<HH", 32773, 0)),
            (262, 3, 1, struct.pack("<HH", 1, 0)),
            (273, 4, 1, struct.pack("<I", 8)),
            (277, 3, 1, struct.pack("<HH", 1, 0)),
            (278, 4, 1, struct.pack("<I", 2)),
            (279, 4, 1, struct.pack("<I", len(body))),
        ]
        out += struct.pack("<H", len(entries))
        for tag, ftype, count, vb in entries:
            out += struct.pack("<HHI", tag, ftype, count) + vb
        out += struct.pack("<I", 0)
        back = decode_tiff(bytes(out))
        assert back.shape == (2, 8, 1) and (back == 7).all()


class TestVariants:
    def test_big_endian(self):
        """Hand-build a 2x2 big-endian (MM) grayscale TIFF."""
        body = bytes([10, 20, 30, 40])
        ifd_off = 8 + len(body)
        out = bytearray(b"MM" + struct.pack(">HI", 42, ifd_off))
        out += body
        entries = [
            (256, 4, 1, struct.pack(">I", 2)),
            (257, 4, 1, struct.pack(">I", 2)),
            (258, 3, 1, struct.pack(">HH", 8, 0)),
            (259, 3, 1, struct.pack(">HH", 1, 0)),
            (262, 3, 1, struct.pack(">HH", 1, 0)),
            (273, 4, 1, struct.pack(">I", 8)),
            (277, 3, 1, struct.pack(">HH", 1, 0)),
            (278, 4, 1, struct.pack(">I", 2)),
            (279, 4, 1, struct.pack(">I", 4)),
        ]
        out += struct.pack(">H", len(entries))
        for tag, ftype, count, vb in entries:
            out += struct.pack(">HHI", tag, ftype, count) + vb
        out += struct.pack(">I", 0)
        back = decode_tiff(bytes(out))
        assert (back[:, :, 0] == np.array([[10, 20], [30, 40]])).all()

    def test_white_is_zero_inverted(self):
        px = np.array([[0, 255]], dtype=np.uint8)
        data = bytearray(encode_tiff(px))
        # photometric tag 262: flip BlackIsZero(1) -> WhiteIsZero(0)
        i = bytes(data).index(struct.pack("<HHI", 262, 3, 1))
        data[i + 8 : i + 10] = struct.pack("<H", 0)
        back = decode_tiff(bytes(data))
        assert (back[:, :, 0] == np.array([[255, 0]])).all()

    def test_multi_strip(self):
        """rows_per_strip=1 with per-row strips must assemble in order."""
        px = np.arange(4 * 3, dtype=np.uint8).reshape(4, 3, 1)
        rows = [px[i].tobytes() for i in range(4)]
        offs, cur = [], 8
        for r in rows:
            offs.append(cur)
            cur += len(r)
        ifd_off = cur
        # offsets/counts arrays (>4 bytes) live after the IFD
        n_entries = 9
        arr_off = ifd_off + 2 + 12 * n_entries + 4
        out = bytearray(b"II" + struct.pack("<HI", 42, ifd_off))
        for r in rows:
            out += r
        entries = [
            (256, 4, 1, struct.pack("<I", 3)),
            (257, 4, 1, struct.pack("<I", 4)),
            (258, 3, 1, struct.pack("<HH", 8, 0)),
            (259, 3, 1, struct.pack("<HH", 1, 0)),
            (262, 3, 1, struct.pack("<HH", 1, 0)),
            (273, 4, 4, struct.pack("<I", arr_off)),
            (277, 3, 1, struct.pack("<HH", 1, 0)),
            (278, 4, 1, struct.pack("<I", 1)),
            (279, 4, 4, struct.pack("<I", arr_off + 16)),
        ]
        out += struct.pack("<H", len(entries))
        for tag, ftype, count, vb in entries:
            out += struct.pack("<HHI", tag, ftype, count) + vb
        out += struct.pack("<I", 0)
        out += struct.pack("<IIII", *offs)
        out += struct.pack("<IIII", 3, 3, 3, 3)
        back = decode_tiff(bytes(out))
        assert (back == px).all()

    def test_garbage_rejected(self):
        with pytest.raises(ValueError, match="TIFF"):
            decode_tiff(b"not a tiff")


class TestDispatch:
    def test_decode_image_routes_tiff(self):
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_image, sniff_image

        px = np.full((5, 6, 3), 42, dtype=np.uint8)
        data = encode_tiff(px)
        assert sniff_image(data) == "tiff"
        assert (decode_image(data) == px).all()


class TestLzw:
    def test_lzw_stream_roundtrip_with_width_growth(self):
        """Enough distinct material to push the code width through 9→10→11
        bits (and table churn) — self-consistency of the early-change
        variable-width codec."""
        from graphrag_mrkr_2_spark.functions.tiffcodec import _tiff_lzw_decode
        from media_fixtures import _tiff_lzw_encode

        rng = np.random.RandomState(7)
        data = bytes(rng.randint(0, 256, size=20000, dtype=np.uint8))
        comp = _tiff_lzw_encode(data)
        assert _tiff_lzw_decode(comp, len(data)) == data
        # compressible data too
        data2 = (b"abcabcabd" * 500) + bytes(range(256)) * 4
        assert _tiff_lzw_decode(_tiff_lzw_encode(data2), len(data2)) == data2

    def test_lzw_early_change_boundary(self):
        """The 9→10-bit switch happens one code EARLY (TIFF quirk vs GIF):
        a stream long enough to add entry 509 must still round-trip
        byte-exactly across the boundary."""
        from graphrag_mrkr_2_spark.functions.tiffcodec import _tiff_lzw_decode
        from media_fixtures import _tiff_lzw_encode

        # incompressible pattern: ~1 new table entry per 1-2 input bytes,
        # comfortably crossing 510 entries
        data = bytes((i * 7 + (i >> 3)) % 256 for i in range(1500))
        assert _tiff_lzw_decode(_tiff_lzw_encode(data), len(data)) == data

    @pytest.mark.parametrize("channels", [1, 3])
    @pytest.mark.parametrize("predictor", [1, 2])
    def test_tiff_lzw_image_roundtrip(self, channels, predictor):
        rng = np.random.RandomState(channels + predictor)
        px = rng.randint(0, 256, size=(19, 23, channels), dtype=np.uint8)
        data = encode_tiff(px, "lzw", predictor)
        back = decode_tiff(data)
        assert back.shape == px.shape and (back == px).all()
        # the compressed payload really is LZW (tag 259 == 5)
        i = bytes(data).index(struct.pack("<HHI", 259, 3, 1))
        assert struct.unpack("<H", data[i + 8 : i + 10])[0] == 5

    def test_predictor_improves_gradient_compression(self):
        """Horizontal differencing exists to make smooth content compress —
        verify the size win on a gradient."""
        yy, xx = np.mgrid[0:64, 0:64]
        px = ((yy + xx) % 256).astype(np.uint8)[:, :, None]
        plain = encode_tiff(px, "lzw", 1)
        pred = encode_tiff(px, "lzw", 2)
        assert len(pred) < len(plain)
        assert (decode_tiff(pred) == px).all()

    def test_jpeg_in_tiff_palette_photometric_rejected(self):
        """Compression 7 decodes for real now (r5), but only for the
        photometrics a JPEG stream can carry (gray/YCbCr) — palette (3)
        under JPEG compression is malformed and must raise, not garble."""
        px = np.zeros((2, 2, 1), dtype=np.uint8)
        data = bytearray(encode_tiff(px))
        i = bytes(data).index(struct.pack("<HHI", 259, 3, 1))
        data[i + 8 : i + 10] = struct.pack("<H", 7)  # JPEG-in-TIFF
        j = bytes(data).index(struct.pack("<HHI", 262, 3, 1))
        data[j + 8 : j + 10] = struct.pack("<H", 3)  # palette
        with pytest.raises(ValueError, match="photometric"):
            decode_tiff(bytes(data))


class TestLibtiffInterop:
    """Bidirectional A/B against the REAL libtiff (via ctypes) — the hard
    conformance oracle for the LZW early-change widths (review r4 pass-4
    finding #1: a self-consistent off-by-one was invisible to round-trip
    tests until checked against libtiff). Skips where the library is
    absent."""

    LIB = "/lib/x86_64-linux-gnu/libtiff.so.6"

    @pytest.fixture()
    def lt(self):
        import ctypes
        import os

        if not os.path.exists(self.LIB):
            pytest.skip("libtiff shared library not present")
        lib = ctypes.CDLL(self.LIB)
        lib.TIFFOpen.restype = ctypes.c_void_p
        lib.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
        lib.TIFFSetField.restype = ctypes.c_int
        lib.TIFFWriteScanline.restype = ctypes.c_int
        lib.TIFFReadScanline.restype = ctypes.c_int
        return lib

    def _write(self, lt, path, px, predictor):
        import ctypes

        h, w, spp = px.shape
        tif = ctypes.c_void_p(lt.TIFFOpen(path.encode(), b"w"))
        assert tif.value
        for tag, val in [(256, w), (257, h), (258, 8), (259, 5),
                         (262, 1 if spp == 1 else 2), (277, spp), (278, h), (284, 1)]:
            assert lt.TIFFSetField(tif, ctypes.c_uint32(tag), val) == 1
        if predictor == 2:
            assert lt.TIFFSetField(tif, ctypes.c_uint32(317), 2) == 1
        for y in range(h):
            buf = ctypes.create_string_buffer(px[y].tobytes(), w * spp)
            assert lt.TIFFWriteScanline(tif, buf, ctypes.c_uint32(y), ctypes.c_uint16(0)) == 1
        lt.TIFFClose(tif)

    def _read(self, lt, path, h, w, spp):
        import ctypes

        tif = ctypes.c_void_p(lt.TIFFOpen(path.encode(), b"r"))
        assert tif.value
        out = np.zeros((h, w, spp), dtype=np.uint8)
        buf = ctypes.create_string_buffer(w * spp)
        for y in range(h):
            assert lt.TIFFReadScanline(tif, buf, ctypes.c_uint32(y), ctypes.c_uint16(0)) == 1
            out[y] = np.frombuffer(buf.raw, dtype=np.uint8).reshape(w, spp)
        lt.TIFFClose(tif)
        return out

    @pytest.mark.parametrize("spp", [1, 3])
    @pytest.mark.parametrize("predictor", [1, 2])
    def test_bidirectional_lzw(self, lt, tmp_path, spp, predictor):
        rng = np.random.RandomState(spp * 10 + predictor)
        px = rng.randint(0, 256, size=(40, 50, spp), dtype=np.uint8)
        # libtiff writes -> our decoder reads
        p1 = str(tmp_path / "theirs.tif")
        self._write(lt, p1, px, predictor)
        assert (decode_tiff(open(p1, "rb").read()) == px).all()
        # our encoder writes -> libtiff reads
        p2 = str(tmp_path / "ours.tif")
        with open(p2, "wb") as f:
            f.write(encode_tiff(px, "lzw", predictor))
        assert (self._read(lt, p2, 40, 50, spp) == px).all()


class TestJpegInTiff:
    """JPEG-in-TIFF (compression 7, TIFF TechNote 2) against the REAL
    libtiff writer — the independent producer that exercises both things
    our own encoder never emits: the shared JPEGTables tag (347) whose
    table segments must be spliced into every abbreviated strip stream,
    and multi-strip / tiled segment grids. The pixel oracle is libtiff's
    OWN decode of the same file (TIFFReadRGBAImageOriented), asserted
    BIT-IDENTICAL — our islow IDCT / fancy upsample / fixed-point color
    tables reproduce libjpeg-turbo's reconstruction exactly."""

    LIB = "/lib/x86_64-linux-gnu/libtiff.so.6"

    @pytest.fixture()
    def lt(self):
        import ctypes
        import os

        if not os.path.exists(self.LIB):
            pytest.skip("libtiff shared library not present")
        lib = ctypes.CDLL(self.LIB)
        lib.TIFFOpen.restype = ctypes.c_void_p
        lib.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
        lib.TIFFSetField.restype = ctypes.c_int
        lib.TIFFWriteScanline.restype = ctypes.c_int
        lib.TIFFWriteTile.restype = ctypes.c_long
        lib.TIFFReadRGBAImageOriented.restype = ctypes.c_int
        return lib

    @staticmethod
    def _smooth(h, w, spp):
        yy, xx = np.mgrid[0:h, 0:w]
        chans = [(40 + yy * 2) % 256, (60 + xx * 3) % 256, (50 + yy + xx) % 256]
        return np.stack(chans[:spp], axis=2).astype(np.uint8)

    def _write_jpeg_tiff(self, lt, path, px, rows_per_strip=None, tile=None):
        import ctypes

        h, w, spp = px.shape
        tif = ctypes.c_void_p(lt.TIFFOpen(path.encode(), b"w"))
        assert tif.value
        photometric = 1 if spp == 1 else 6  # gray / YCbCr
        fields = [(256, w), (257, h), (258, 8), (259, 7),
                  (262, photometric), (277, spp), (284, 1)]
        if spp == 3:
            fields.append((65538, 1))  # JPEGCOLORMODE_RGB: libtiff converts
        if tile is not None:
            fields += [(322, tile[0]), (323, tile[1])]
        else:
            fields.append((278, rows_per_strip or h))
        ok = all(
            lt.TIFFSetField(tif, ctypes.c_uint32(tag), val) == 1
            for tag, val in fields
        )
        lt.TIFFSetField(tif, ctypes.c_uint32(65537), 95)  # JPEGQUALITY
        if not ok:
            lt.TIFFClose(tif)
            pytest.skip("libtiff built without JPEG support")
        if tile is not None:
            tw, th = tile
            for y0 in range(0, h, th):
                for x0 in range(0, w, tw):
                    block = np.zeros((th, tw, spp), dtype=np.uint8)
                    vh, vw = min(th, h - y0), min(tw, w - x0)
                    block[:vh, :vw] = px[y0 : y0 + vh, x0 : x0 + vw]
                    buf = ctypes.create_string_buffer(block.tobytes(), th * tw * spp)
                    assert (
                        lt.TIFFWriteTile(
                            tif, buf, ctypes.c_uint32(x0), ctypes.c_uint32(y0),
                            ctypes.c_uint32(0), ctypes.c_uint16(0),
                        )
                        > 0
                    )
        else:
            for y in range(h):
                buf = ctypes.create_string_buffer(px[y].tobytes(), w * spp)
                if lt.TIFFWriteScanline(
                    tif, buf, ctypes.c_uint32(y), ctypes.c_uint16(0)
                ) != 1:
                    lt.TIFFClose(tif)
                    pytest.skip("libtiff built without JPEG support")
        lt.TIFFClose(tif)

    def _libtiff_rgb(self, lt, path, h, w):
        import ctypes

        tif = ctypes.c_void_p(lt.TIFFOpen(path.encode(), b"r"))
        assert tif.value
        raster = (ctypes.c_uint32 * (w * h))()
        assert (
            lt.TIFFReadRGBAImageOriented(tif, w, h, raster, 1, 0) == 1
        )  # 1 = ORIENTATION_TOPLEFT
        lt.TIFFClose(tif)
        arr = np.frombuffer(bytes(raster), dtype=np.uint32).reshape(h, w)
        return np.stack(
            [arr & 0xFF, (arr >> 8) & 0xFF, (arr >> 16) & 0xFF], axis=2
        ).astype(np.uint8)

    @staticmethod
    def _has_tag(path, tag):
        data = open(path, "rb").read()
        e = "<" if data[:2] == b"II" else ">"
        (ifd_off,) = struct.unpack(e + "I", data[4:8])
        (n,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])
        return any(
            struct.unpack(e + "H", data[ifd_off + 2 + 12 * k : ifd_off + 4 + 12 * k])[0]
            == tag
            for k in range(n)
        )

    def test_multistrip_rgb_with_jpegtables(self, lt, tmp_path):
        px = self._smooth(48, 33, 3)
        p = str(tmp_path / "strips.tif")
        self._write_jpeg_tiff(lt, p, px, rows_per_strip=16)
        assert self._has_tag(p, 347), "libtiff should emit shared JPEGTables"
        ours = decode_tiff(open(p, "rb").read())
        theirs = self._libtiff_rgb(lt, p, 48, 33)
        assert ours.shape == (48, 33, 3)
        assert (ours == theirs).all()
        assert np.abs(ours.astype(int) - px.astype(int)).max() <= 4  # lossy bound

    def test_tiled_rgb(self, lt, tmp_path):
        # 40x41 image over 16x16 tiles: 3x3 grid with ragged right/bottom
        # edges — the padded-tile crop path
        px = self._smooth(40, 41, 3)
        p = str(tmp_path / "tiles.tif")
        self._write_jpeg_tiff(lt, p, px, tile=(16, 16))
        ours = decode_tiff(open(p, "rb").read())
        theirs = self._libtiff_rgb(lt, p, 40, 41)
        assert ours.shape == (40, 41, 3)
        assert (ours == theirs).all()

    def test_grayscale_strips(self, lt, tmp_path):
        px = self._smooth(48, 33, 1)
        p = str(tmp_path / "gray.tif")
        self._write_jpeg_tiff(lt, p, px, rows_per_strip=16)
        ours = decode_tiff(open(p, "rb").read())
        assert ours.shape == (48, 33, 1)
        theirs = self._libtiff_rgb(lt, p, 48, 33)  # gray replicated to RGB
        assert (ours[:, :, 0] == theirs[:, :, 0]).all()

    def test_tiled_lzw_roundtrip(self, lt, tmp_path):
        """Tiles aren't JPEG-specific: libtiff-written LZW tiles must
        reassemble exactly (predictor differences restart per tile row)."""
        import ctypes

        rng = np.random.RandomState(11)
        px = rng.randint(0, 256, size=(40, 41, 3), dtype=np.uint8)
        h, w, spp = px.shape
        p = str(tmp_path / "lzwtiles.tif")
        tif = ctypes.c_void_p(lt.TIFFOpen(p.encode(), b"w"))
        assert tif.value
        for tag, val in [(256, w), (257, h), (258, 8), (259, 5), (262, 2),
                         (277, spp), (284, 1), (317, 2), (322, 16), (323, 16)]:
            assert lt.TIFFSetField(tif, ctypes.c_uint32(tag), val) == 1
        for y0 in range(0, h, 16):
            for x0 in range(0, w, 16):
                block = np.zeros((16, 16, spp), dtype=np.uint8)
                vh, vw = min(16, h - y0), min(16, w - x0)
                block[:vh, :vw] = px[y0 : y0 + vh, x0 : x0 + vw]
                buf = ctypes.create_string_buffer(block.tobytes(), 16 * 16 * spp)
                assert (
                    lt.TIFFWriteTile(
                        tif, buf, ctypes.c_uint32(x0), ctypes.c_uint32(y0),
                        ctypes.c_uint32(0), ctypes.c_uint16(0),
                    )
                    > 0
                )
        lt.TIFFClose(tif)
        assert (decode_tiff(open(p, "rb").read()) == px).all()

    def test_ycbcr_422_strips(self, lt, tmp_path):
        """YCbCrSubsampling (2,1) makes libjpeg emit a 4:2:2 stream —
        the ONLY producer in the suites that exercises the h2v1 fancy
        upsampler, pinning its bit-identity claim (review r5 finding)."""
        import ctypes

        px = self._smooth(48, 33, 3)
        h, w, spp = px.shape
        p = str(tmp_path / "s422.tif")
        tif = ctypes.c_void_p(lt.TIFFOpen(p.encode(), b"w"))
        assert tif.value
        for tag, val in [(256, w), (257, h), (258, 8), (259, 7), (262, 6),
                         (277, spp), (278, 16), (284, 1), (65538, 1)]:
            if lt.TIFFSetField(tif, ctypes.c_uint32(tag), val) != 1:
                lt.TIFFClose(tif)
                pytest.skip("libtiff built without JPEG support")
        assert lt.TIFFSetField(tif, ctypes.c_uint32(530), 2, 1) == 1
        lt.TIFFSetField(tif, ctypes.c_uint32(65537), 95)
        for y in range(h):
            buf = ctypes.create_string_buffer(px[y].tobytes(), w * spp)
            if lt.TIFFWriteScanline(
                tif, buf, ctypes.c_uint32(y), ctypes.c_uint16(0)
            ) != 1:
                lt.TIFFClose(tif)
                pytest.skip("libtiff built without JPEG support")
        lt.TIFFClose(tif)
        data = open(p, "rb").read()
        i = data.find(b"\xff\xc0")  # strip SOF0: Y factors must be 2x1
        assert data[i + 11] == 0x21, "writer did not emit 4:2:2"
        ours = decode_tiff(data)
        theirs = self._libtiff_rgb(lt, p, h, w)
        assert (ours == theirs).all()


class TestMalformed:
    """Crafted-input error contract: malformed geometry raises ValueError,
    never an arithmetic error (review r5 findings)."""

    @staticmethod
    def _patch_tag(data: bytes, tag: int, ftype: int, value: int) -> bytes:
        out = bytearray(data)
        i = bytes(data).index(struct.pack("<HH", tag, ftype))
        out[i + 8 : i + 12] = struct.pack("<I", value)
        return bytes(out)

    @pytest.mark.parametrize("zero_tag", [322, 323])
    def test_zero_tile_size_rejected(self, zero_tag):
        """Hand-built tiled grayscale TIFF with TileWidth/TileLength=0:
        must raise ValueError, not ZeroDivisionError."""
        body = bytes(16)  # one 4x4 "tile"
        ifd_off = 8 + len(body)
        out = bytearray(b"II" + struct.pack("<HI", 42, ifd_off))
        out += body
        entries = [
            (256, 4, 1, struct.pack("<I", 4)),
            (257, 4, 1, struct.pack("<I", 4)),
            (258, 3, 1, struct.pack("<HH", 8, 0)),
            (259, 3, 1, struct.pack("<HH", 1, 0)),
            (262, 3, 1, struct.pack("<HH", 1, 0)),
            (277, 3, 1, struct.pack("<HH", 1, 0)),
            (322, 4, 1, struct.pack("<I", 0 if zero_tag == 322 else 4)),
            (323, 4, 1, struct.pack("<I", 0 if zero_tag == 323 else 4)),
            (324, 4, 1, struct.pack("<I", 8)),
            (325, 4, 1, struct.pack("<I", 16)),
        ]
        out += struct.pack("<H", len(entries))
        for tag, ftype, count, vb in entries:
            out += struct.pack("<HHI", tag, ftype, count) + vb
        out += struct.pack("<I", 0)
        with pytest.raises(ValueError, match="tile size"):
            decode_tiff(bytes(out))

    def test_zero_width_rejected(self):
        px = np.zeros((4, 4, 1), dtype=np.uint8)
        data = self._patch_tag(encode_tiff(px), 256, 4, 0)
        with pytest.raises(ValueError, match="dimensions"):
            decode_tiff(data)

    def test_zero_height_jpeg_rejected(self):
        px = np.zeros((4, 4, 1), dtype=np.uint8)
        data = encode_tiff(px)
        data = self._patch_tag(data, 257, 4, 0)
        out = bytearray(data)
        i = bytes(out).index(struct.pack("<HHI", 259, 3, 1))
        out[i + 8 : i + 10] = struct.pack("<H", 7)  # JPEG compression
        with pytest.raises(ValueError, match="dimensions"):
            decode_tiff(bytes(out))
