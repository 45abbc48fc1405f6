"""VP8-in-WebM sample decode through the generalized MKV plumbing.

Old-crawl WebM is VP8; the container has no VP8 video library seam to
cross because the pure-Python RFC 6386 decoder (functions/vp8codec.py,
bit-identical to libwebp per test_vp8codec.py) decodes the demuxed
samples directly. Fixtures come from the system libwebp encoder (the
same ctypes trick as test_vp8codec): encode stills, extract the raw
``VP8 `` chunk payloads — each a valid VP8 keyframe bitstream — and mux
them into a WebM with ``mux_mkv_video(codec_id=b"V_VP8")``.
"""

from __future__ import annotations

import ctypes
import ctypes.util
from unittest import mock

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions import av1codec
from graphrag_mrkr_2_spark.functions.av1codec import (
    mkv_video_samples,
    mux_mkv_video,
)
from graphrag_mrkr_2_spark.functions.webpcodec import _walk_chunks, decode_webp


def _libwebp():
    for name in ("libwebp.so.7", "libwebp.so", ctypes.util.find_library("webp")):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
            lib.WebPEncodeRGB.restype = ctypes.c_size_t
            lib.WebPEncodeRGB.argtypes = [
                ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
                ctypes.c_float, ctypes.POINTER(ctypes.c_void_p)]
            lib.WebPFree.argtypes = [ctypes.c_void_p]
            lib.WebPFree.restype = None
            return lib
        except (OSError, AttributeError):
            continue
    return None


def _encode_webp(lib, rgb: np.ndarray, q: float = 80.0) -> bytes:
    h, w = rgb.shape[:2]
    out = ctypes.c_void_p()
    n = lib.WebPEncodeRGB(np.ascontiguousarray(rgb).tobytes(), w, h, w * 3,
                          q, ctypes.byref(out))
    if not n:
        raise RuntimeError("WebPEncodeRGB failed")
    try:
        return ctypes.string_at(out, n)
    finally:
        lib.WebPFree(out)


def _smooth(h, w, seed):
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, size=(3, 3, 3)).astype(np.float64)
    y = np.linspace(0, 2, h)
    x = np.linspace(0, 2, w)
    out = np.empty((h, w, 3))
    for c in range(3):
        for row in range(h):
            out[row, :, c] = np.interp(x, [0, 1, 2], base[:, min(2, int(y[row])), c])
    return np.clip(out, 0, 255).astype(np.uint8)


@pytest.fixture(scope="module")
def webp_lib():
    lib = _libwebp()
    if lib is None:
        pytest.skip("libwebp not available")
    return lib


class TestVp8InMkv:
    def _fixture(self, lib, n=3, frame_duration_ms=40):
        webps = [_encode_webp(lib, _smooth(48, 64, seed=i)) for i in range(n)]
        payloads = [_walk_chunks(w)[b"VP8 "] for w in webps]
        with mock.patch.object(av1codec, "MKV_FRAME_MS", frame_duration_ms):
            mkv = mux_mkv_video(payloads, 64, 48, codec_id=b"V_VP8")
        return webps, mkv

    def test_probe_classifies_vp8_track(self, webp_lib):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mkv

        _, mkv = self._fixture(webp_lib)
        meta = probe_mkv(mkv)
        assert meta["codec"] == "vp8"
        assert (meta["width"], meta["height"]) == (64, 48)

    def test_demuxed_samples_decode_identically(self, webp_lib):
        """Each demuxed VP8 sample must decode (pure-Python RFC 6386
        decoder) to exactly what the same bitstream decodes to inside its
        original WEBP container — the container walk cannot perturb it."""
        from graphrag_mrkr_2_spark.functions.vp8codec import decode_vp8

        webps, mkv = self._fixture(webp_lib)
        samples = mkv_video_samples(mkv)
        assert len(samples) == len(webps)
        for (_, key, payload), webp in zip(samples, webps):
            assert key
            assert np.array_equal(decode_vp8(payload), decode_webp(webp))

    def test_interframes_skipped_keyframes_decoded(self, spark, webp_lib):
        """A VP8 WebM with non-key blocks must still decode its keyframes
        (honest I-frame sampling) instead of failing wholesale — the
        pure decoder is keyframe-scope and the container flag routes."""
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_png
        from graphrag_mrkr_2_spark.operators.multimodal import (
            sample_video_frames,
        )

        webps = [_encode_webp(webp_lib, _smooth(48, 64, seed=i))
                 for i in range(3)]
        payloads = [_walk_chunks(w)[b"VP8 "] for w in webps]
        with mock.patch.object(av1codec, "MKV_VIDEO_KEYFRAMES", [True, False, True]):
            mkv = mux_mkv_video(payloads, 64, 48, codec_id=b"V_VP8")
        df = spark.createDataFrame(
            [("vid0", "video", mkv, {})],
            "media_id string, kind string, payload binary, "
            "meta map<string,string>",
        )
        rows = sample_video_frames(df, every_ms=10, strict=True).collect()
        assert len(rows) == 2  # keyframes 0 and 2; the interframe skipped
        decoded = [decode_png(bytes(r["frame"])) for r in rows]
        assert np.array_equal(decoded[0], decode_webp(webps[0]))
        assert np.array_equal(decoded[1], decode_webp(webps[2]))

    def test_sample_video_frames_end_to_end(self, spark, webp_lib):
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_png
        from graphrag_mrkr_2_spark.operators.multimodal import (
            sample_video_frames,
        )

        webps, mkv = self._fixture(webp_lib, n=5, frame_duration_ms=500)
        df = spark.createDataFrame(
            [("vid0", "video", mkv, {})],
            "media_id string, kind string, payload binary, "
            "meta map<string,string>",
        )
        rows = sample_video_frames(df, every_ms=1000, strict=True).collect()
        assert [r["frame_index"] for r in rows] == [0, 2, 4]
        for r in rows:
            assert np.array_equal(decode_png(bytes(r["frame"])),
                                  decode_webp(webps[r["frame_index"]]))
