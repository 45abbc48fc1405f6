"""AV1 sample decode via dav1d (functions/av1codec.py).

Conformance is two-sided: (1) lossless identity-matrix OBUs from libheif's
aom encoder must decode back to the exact input pixels, and (2) the SAME
OBU stream decoded through libaom's decoder — an independent AV1
implementation — must produce byte-identical Y/U/V planes, so a binding
bug (offset, stride, plane order) can't hide behind self-consistency.
The WebM leg round-trips our minimal muxer through the demuxer, the
metadata probe, and sample_video_frames end to end.
"""

from __future__ import annotations

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions import av1codec
from graphrag_mrkr_2_spark.functions.av1codec import (
    avif_primary_obu,
    dav1d_available,
    decode_av1_frames,
    decode_av1_frames_yuv,
    mkv_video_samples,
    mux_webm_av1,
)
from media_fixtures import aom_decoder_available, decode_av1_frames_yuv_aom
from graphrag_mrkr_2_spark.functions.heifcodec import (
    encode_heif_lossless,
    heif_available,
    heif_encoder_available,
)


def _require_encode():
    if not (heif_available("avif") and heif_encoder_available("avif")):
        pytest.skip("libheif AV1 encode not available")
    if not dav1d_available():
        pytest.skip("libdav1d not available")


def _obu(px) -> bytes:
    return avif_primary_obu(encode_heif_lossless(px, fmt="avif"))


def _corpus(n=3, h=24, w=32, seed=8):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for _ in range(n)]


class TestDav1dDecode:
    def test_lossless_identity_bit_exact(self):
        _require_encode()
        pxs = _corpus()
        frames = decode_av1_frames([_obu(p) for p in pxs])
        assert len(frames) == len(pxs)
        for f, p in zip(frames, pxs):
            assert np.array_equal(f, p)

    def test_odd_dims(self):
        _require_encode()
        px = np.random.default_rng(2).integers(
            0, 256, size=(17, 31, 3), dtype=np.uint8)
        (f,) = decode_av1_frames([_obu(px)])
        assert f.shape == (17, 31, 3) and np.array_equal(f, px)

    def test_corrupt_obu_raises(self):
        if not dav1d_available():
            pytest.skip("libdav1d not available")
        with pytest.raises(ValueError):
            decode_av1_frames([b"\x12\x00garbage" * 10])

    def test_avif_obu_extraction_via_iloc(self):
        _require_encode()
        # alpha adds a SECOND item whose extent must NOT be returned —
        # only the iloc walk (not the mdat shortcut) gets this right
        px = np.random.default_rng(5).integers(
            0, 256, size=(16, 16, 4), dtype=np.uint8)
        avif = encode_heif_lossless(px, fmt="avif")
        obu = avif_primary_obu(avif)
        decoded = decode_av1_frames_yuv([obu])
        # exactly ONE frame: the mdat-shortcut fallback would return the
        # concatenated color+alpha items and decode two
        assert len(decoded) == 1
        y, u, v, layout, mtrx, full = decoded[0]
        assert mtrx == 0 and full == 1  # identity, full range
        rgb = np.stack([v, y, u], axis=2)
        assert np.array_equal(rgb, px[:, :, :3])


class TestAomAB:
    """dav1d vs libaom: two independent AV1 decoders, identical planes."""

    def test_planes_bit_identical(self):
        _require_encode()
        if not aom_decoder_available():
            pytest.skip("libaom decoder not available")
        obus = [_obu(p) for p in _corpus(n=4, h=21, w=37, seed=13)]
        d = decode_av1_frames_yuv(obus)
        a = decode_av1_frames_yuv_aom(obus)
        assert len(d) == len(a) == 4
        for (dy, du, dv, dl, dm, dr), (ay, au, av, al, am, ar) in zip(d, a):
            assert (dl, dm, dr) == (al, am, ar)
            assert np.array_equal(dy, ay)
            assert np.array_equal(du, au)
            assert np.array_equal(dv, av)


class TestChroma420:
    """4:2:0 — the layout real crawl video uses. Not RGB-lossless (the
    subsampling discards chroma), so the contracts are: both independent
    decoders produce identical planes, auto conversion picks BT.601, the
    output is plausibly close to the input, and odd dims round correctly."""

    def test_420_decodes_and_ab_matches(self):
        _require_encode()
        if not aom_decoder_available():
            pytest.skip("libaom decoder not available")
        pxs = _corpus(n=2, h=23, w=29, seed=21)  # odd dims on purpose
        obus = [avif_primary_obu(encode_heif_lossless(p, chroma="420"))
                for p in pxs]
        d = decode_av1_frames_yuv(obus)
        a = decode_av1_frames_yuv_aom(obus)
        for (dy, du, dv, dl, dm, dr), (ay, au, av, al, am, ar) in zip(d, a):
            assert dl == al == 1  # I420
            assert np.array_equal(dy, ay)
            assert np.array_equal(du, au)
            assert np.array_equal(dv, av)
        frames = decode_av1_frames(obus)  # auto -> bt601 for 420
        for f, p in zip(frames, pxs):
            assert f.shape == p.shape
            # lossless luma, subsampled chroma: mean error stays small
            err = np.abs(f.astype(int) - p.astype(int)).mean()
            assert err < 48, err


class TestWebM:
    def test_mux_demux_decode_roundtrip(self):
        _require_encode()
        pxs = _corpus()
        webm = mux_webm_av1([_obu(p) for p in pxs], 32, 24)
        samples = mkv_video_samples(webm)
        assert [t for t, _, _ in samples] == [0, 40, 80]
        assert all(k for _, k, _ in samples)
        frames = decode_av1_frames([p for _, _, p in samples])
        for f, p in zip(frames, pxs):
            assert np.array_equal(f, p)

    def test_probe_classifies_muxed_file(self):
        _require_encode()
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mkv
        from graphrag_mrkr_2_spark.operators.multimodal import probe_media

        webm = mux_webm_av1([_obu(p) for p in _corpus()], 32, 24)
        out = probe_mkv(webm)
        assert out["codec"] == "av1"
        assert (out["width"], out["height"]) == (32, 24)
        assert out["duration_ms"] == 120
        med = probe_media(webm)
        assert med["kind"] == "video" and med["codec"] == "av1"

    def test_demux_rejects_non_mkv(self):
        with pytest.raises(ValueError):
            mkv_video_samples(b"not a matroska file at all")

    def test_sample_video_frames_end_to_end(self, spark, monkeypatch):
        """kind=video AV1 WebM rows decode REAL frames through the
        mapInPandas plumbing (strict mode — no fallback may fire)."""
        _require_encode()
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_png
        from graphrag_mrkr_2_spark.operators.multimodal import (
            sample_video_frames,
        )

        pxs = _corpus(n=5)
        monkeypatch.setattr(av1codec, "MKV_FRAME_MS", 500)
        webm = mux_webm_av1([_obu(p) for p in pxs], 32, 24)
        df = spark.createDataFrame(
            [("vid0", "video", webm, {})],
            "media_id string, kind string, payload binary, "
            "meta map<string,string>",
        )
        rows = sample_video_frames(df, every_ms=1000, strict=True).collect()
        # 5 frames at 500 ms -> sampled at t=0, 1000, 2000 -> indices 0, 2, 4
        assert [r["frame_index"] for r in rows] == [0, 2, 4]
        for r in rows:
            px = decode_png(bytes(r["frame"]))
            assert np.array_equal(px, pxs[r["frame_index"]])

    def test_non_av1_mkv_strict_raises_nonstrict_falls_back(self, spark):
        _require_encode()
        from graphrag_mrkr_2_spark.operators.multimodal import (
            sample_video_frames,
        )

        webm = mux_webm_av1([_obu(p) for p in _corpus(n=1)], 32, 24)
        vp9 = webm.replace(b"V_AV1", b"V_VP9")
        df = spark.createDataFrame(
            [("vid0", "video", vp9, {"duration_ms": "1000"})],
            "media_id string, kind string, payload binary, "
            "meta map<string,string>",
        )
        with pytest.raises(Exception):
            sample_video_frames(df, every_ms=1000, strict=True).collect()
        rows = sample_video_frames(df, every_ms=1000, strict=False).collect()
        assert len(rows) >= 1  # deterministic fake fallback, no crash
