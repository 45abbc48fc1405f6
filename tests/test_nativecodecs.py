"""Native-codec injection parity (r6, VERDICT r5 #4).

The pure-stdlib kernels are the conformance-tested anchors; this suite
proves the SYSTEM codecs injected through ``image_features(decoder=...)``
produce bit-identical pixels, and that the seam's fallback contract holds
(None from the native decoder -> pure kernel, never a lost payload).

Parity normalization: the pure kernels drop an all-255 alpha plane in two
WEBP cases (VP8 lossy no-ALPH, VP8L with unset alpha-hint); the native
one-shot API always returns RGBA.  ``_norm`` pads pure output to RGBA with
alpha=255 so "bit-identical" means: RGB planes equal AND the native alpha
equals the pure alpha wherever the pure path has one, else constant 255.
"""

from __future__ import annotations

import ctypes

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions import nativecodecs as nc
from graphrag_mrkr_2_spark.functions.imagecodecs import (
    decode_image,
    encode_png,
    sniff_image,
)
from graphrag_mrkr_2_spark.functions.jpegcodec import decode_jpeg, encode_jpeg
from graphrag_mrkr_2_spark.functions.webpcodec import decode_webp, encode_webp_lossless
from helpers import encode_jpeg_at


def _rng(seed=11):
    return np.random.RandomState(seed)


def _smooth(h, w, seed=3):
    """Low-frequency gradient image — exercises the DC-heavy decode paths."""
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 255 // max(1, h - 1)).astype(np.uint8)
    px = np.dstack(
        [base, (xx * 255 // max(1, w - 1)).astype(np.uint8), ((yy + xx) % 256).astype(np.uint8)]
    )
    noise = _rng(seed).randint(-4, 5, size=px.shape)
    return np.clip(px.astype(int) + noise, 0, 255).astype(np.uint8)


def _norm(px: np.ndarray) -> np.ndarray:
    """Normalize any decode to (h, w, 4) RGBA for bit-comparison."""
    if px.ndim == 2:
        px = px[:, :, None]
    if px.shape[2] == 1:  # grayscale: replicate, alpha 255
        px = np.repeat(px, 3, axis=2)
    if px.shape[2] == 3:
        alpha = np.full(px.shape[:2] + (1,), 255, dtype=np.uint8)
        px = np.concatenate([px, alpha], axis=2)
    return px


def _encode_lossy_webp(rgb: np.ndarray, quality: float = 75.0) -> bytes:
    """Lossy VP8 bytes via the system encoder (the test's independent
    producer — same approach as tests/test_vp8codec.py)."""
    lib = ctypes.CDLL("libwebp.so.7")
    lib.WebPEncodeRGB.restype = ctypes.c_size_t
    lib.WebPEncodeRGB.argtypes = [
        ctypes.c_char_p,
        ctypes.c_int,
        ctypes.c_int,
        ctypes.c_int,
        ctypes.c_float,
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
    ]
    lib.WebPFree.restype = None
    lib.WebPFree.argtypes = [ctypes.c_void_p]
    h, w = rgb.shape[:2]
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lib.WebPEncodeRGB(
        np.ascontiguousarray(rgb).tobytes(), w, h, w * 3, quality, ctypes.byref(out)
    )
    assert n > 0
    try:
        return bytes(bytearray(out[:n]))
    finally:
        lib.WebPFree(ctypes.cast(out, ctypes.c_void_p))


needs_jpeg = pytest.mark.skipif(not nc.jpeg_available(), reason="no system libjpeg/gcc")
needs_webp = pytest.mark.skipif(not nc.webp_available(), reason="no system libwebp")


class TestJpegParity:
    @needs_jpeg
    @pytest.mark.parametrize("subsampling", ["444", "420"])
    @pytest.mark.parametrize("shape", [(10, 13), (48, 64), (17, 31)])
    def test_color_bit_identical(self, subsampling, shape):
        h, w = shape
        for px in (_rng(h * w).randint(0, 256, size=(h, w, 3), dtype=np.uint8), _smooth(h, w)):
            payload = encode_jpeg_at(px, quality=85, subsampling=subsampling)
            pure = decode_jpeg(payload)
            native = nc.decode_jpeg_native(payload)
            assert native is not None
            assert native.shape == pure.shape
            assert np.array_equal(native, pure)

    @needs_jpeg
    def test_grayscale_bit_identical(self):
        px = _rng(7).randint(0, 256, size=(21, 18), dtype=np.uint8)
        payload = encode_jpeg_at(px, quality=90)
        pure = decode_jpeg(payload)
        native = nc.decode_jpeg_native(payload)
        assert native is not None
        assert pure.shape == (21, 18, 1)
        assert np.array_equal(native, pure)

    @needs_jpeg
    def test_corrupt_payload_returns_none(self):
        payload = encode_jpeg_at(_smooth(16, 16), quality=85)
        assert nc.decode_jpeg_native(payload[: len(payload) // 2] ) is None
        assert nc.decode_jpeg_native(b"\xff\xd8\xff\xe0garbage") is None


class TestWebpParity:
    @needs_webp
    def test_lossless_bit_identical(self):
        px = _rng(5).randint(0, 256, size=(23, 17, 4), dtype=np.uint8)
        payload = encode_webp_lossless(px)
        pure = decode_webp(payload)
        native = nc.decode_webp_native(payload)
        assert native is not None
        assert np.array_equal(_norm(native), _norm(pure))

    @needs_webp
    @pytest.mark.parametrize("shape", [(32, 32), (37, 26)])
    def test_lossy_bit_identical(self, shape):
        h, w = shape
        payload = _encode_lossy_webp(_smooth(h, w), quality=60.0)
        pure = decode_webp(payload)  # VP8 path, (h, w, 3)
        native = nc.decode_webp_native(payload)  # always RGBA
        assert native is not None
        assert pure.shape == (h, w, 3)
        assert np.array_equal(_norm(native), _norm(pure))

    @needs_webp
    def test_corrupt_payload_returns_none(self):
        assert nc.decode_webp_native(b"RIFF\x10\x00\x00\x00WEBPVP8 junk") is None


class TestDecoderObject:
    def test_unclaimed_formats_return_none(self):
        dec = nc.NativeImageDecoder()
        png = encode_png(_rng(2).randint(0, 256, size=(6, 6, 3), dtype=np.uint8))
        assert sniff_image(png) == "png"
        assert dec(png, "png") is None  # PNG stays on the pure kernel
        assert dec(png, "gif") is None

    @needs_jpeg
    def test_jpeg_claimed(self):
        dec = nc.NativeImageDecoder()
        payload = encode_jpeg(_smooth(12, 12))
        px = dec(payload, "jpeg")
        assert px is not None and np.array_equal(px, decode_image(payload))

    @needs_webp
    def test_format_allowlist_respected(self):
        dec = nc.NativeImageDecoder(formats=("jpeg",))
        payload = encode_webp_lossless(
            _rng(9).randint(0, 256, size=(8, 8, 4), dtype=np.uint8)
        )
        assert dec(payload, "webp") is None

    def test_picklable(self):
        import pickle

        dec = pickle.loads(pickle.dumps(nc.NativeImageDecoder(formats=("jpeg",))))
        assert dec.formats == ("jpeg",)


@pytest.mark.spark
class TestImageFeaturesInjection:
    """The seam end-to-end: injected features == pure features, including
    payloads the native path must fall back on (PNG/GIF, animated WEBP)."""

    def _media(self, spark):
        from graphrag_mrkr_2_spark.functions.imagecodecs import encode_gif

        rows = []
        px = _smooth(24, 24)
        rows.append(("jpg444", encode_jpeg_at(px, quality=85, subsampling="444")))
        rows.append(("jpg420", encode_jpeg_at(px, quality=85, subsampling="420")))
        rows.append(("png", encode_png(px)))
        rows.append(("gif", encode_gif((px // 64 * 64).astype(np.uint8))))  # <=256 colors
        rows.append(
            ("webp_l", encode_webp_lossless(np.dstack([px, np.full((24, 24), 255, np.uint8)])))
        )
        if nc.webp_available():
            rows.append(("webp_vp8", _encode_lossy_webp(px)))
        df = spark.createDataFrame(
            [(mid, bytearray(p)) for mid, p in rows], "media_id string, payload binary"
        )
        return (
            df.withColumn("kind", df.media_id.substr(0, 0).cast("string"))
            .selectExpr(
                "media_id",
                "payload",
                "'image' as kind",
                "cast(null as struct<codec:string,width:int,height:int,duration_ms:int>) as meta",
            )
        )

    def test_injected_equals_pure(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import image_features

        media = self._media(spark)
        pure = {r["media_id"]: r["feature"] for r in image_features(media, strict=True, decoder=False).collect()}
        injected = {
            r["media_id"]: r["feature"]
            for r in image_features(
                media, strict=True, decoder=nc.NativeImageDecoder()
            ).collect()
        }
        assert injected == pure
        assert set(pure) >= {"jpg444", "jpg420", "png", "gif", "webp_l"}


class TestLoadLibrary:
    """``load_library`` is the one ctypes loader of the media stack: a
    library that does not load, or that lacks a bound symbol, is
    unavailable (None), and each library loads once per process."""

    @pytest.fixture(autouse=True)
    def _empty_cache(self, monkeypatch):
        monkeypatch.setattr(nc, "_LIBRARIES", {})

    def test_bogus_soname_is_unavailable(self):
        assert nc.load_library(("libno-such-library.so.9",), {}) is None
        assert nc.load_library((), {}, find="no-such-library") is None

    def test_missing_symbol_is_unavailable(self):
        table = {"zlibVersion": (ctypes.c_char_p, []),
                 "zlib_no_such_symbol": (None, [])}
        assert nc.load_library(("libz.so.1",), table, find="z") is None

    def test_loads_once_and_binds_the_table(self):
        table = {"zlibVersion": (ctypes.c_char_p, [])}
        lib = nc.load_library(("libz.so.1",), table, find="z")
        assert lib is not None
        assert lib is nc.load_library(("libz.so.1",), table, find="z")
        assert lib.zlibVersion().startswith(b"1.")

    def test_too_old_libraries_make_the_codecs_unavailable(self, monkeypatch):
        import media_fixtures
        from graphrag_mrkr_2_spark.functions import av1codec, heifcodec, hevccodec

        for table in (nc._WEBP_PROTOTYPES, nc._JPEG_SHIM_PROTOTYPES,
                      heifcodec._HEIF_PROTOTYPES, hevccodec._DE265_PROTOTYPES,
                      av1codec._DAV1D_PROTOTYPES, media_fixtures._AOM_PROTOTYPES):
            monkeypatch.setitem(table, "symbol_newer_than_this_library",
                                (None, []))
        assert not nc.webp_available()
        assert not nc.jpeg_available()
        assert nc.decode_webp_native(b"RIFF\0\0\0\0WEBP") is None
        assert nc.decode_jpeg_native(b"\xff\xd8\xff") is None
        assert not heifcodec.heif_available("avif")
        assert not heifcodec.heif_available("heic")
        assert not hevccodec.de265_available()
        assert not av1codec.dav1d_available()
        assert not media_fixtures.aom_decoder_available()
        assert nc.NativeImageDecoder().available_formats() == ()
