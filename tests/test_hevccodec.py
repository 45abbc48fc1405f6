"""HEVC sample decode via libde265 (functions/hevccodec.py).

Conformance strategy mirrors test_av1codec.py: libheif's x265 encoder
produces LOSSLESS identity-GBR HEVC for known pixels (the hvcC parameter
sets + length-prefixed sample NALs are extracted straight from the HEIC
container), so the libde265 ctypes binding under test must reproduce the
input bit-exactly — any offset/stride/plane-order bug in the binding
breaks equality. The MKV leg round-trips the generalized Matroska muxer
(CodecPrivate = hvcC) through the demuxer, the metadata probe, and
sample_video_frames end to end; the MP4 leg lives in test_mp4mux.py.
"""

from __future__ import annotations

from unittest import mock

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions.hevccodec import (
    de265_available,
    decode_hevc_frames,
    decode_hevc_frames_yuv,
    encode_hevc_samples,
    heif_item_config,
    parse_hvcc,
    split_length_prefixed,
)
from media_fixtures import annexb_to_nals, hevc_nals_from_heic
from graphrag_mrkr_2_spark.functions.heifcodec import (
    decode_heif_native,
    encode_heif_lossless,
    heif_available,
    heif_encoder_available,
)


def _require_hevc():
    if not (heif_available("heic") and heif_encoder_available("heic")):
        pytest.skip("libheif HEVC encode not available")
    if not de265_available():
        pytest.skip("libde265 not available")


def _corpus(n=3, h=12, w=16, seed=11):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for _ in range(n)]


def _stream_nals(pxs):
    record, samples = encode_hevc_samples(pxs)
    cfg = parse_hvcc(record)
    nals = list(cfg["param_nals"])
    for s in samples:
        nals += split_length_prefixed(s, 4)
    return nals


class TestDe265Decode:
    def test_single_frame_bit_exact_under_crop(self):
        """x265 (via libheif) pads to CTU multiples and signals the
        display size only at the container layer, so the decoded frame is
        coded-size; the top-left crop must equal the input exactly."""
        _require_hevc()
        px = _corpus(n=1)[0]
        params, samples = hevc_nals_from_heic(
            encode_heif_lossless(px, fmt="heic", chroma="444"))
        frames = decode_hevc_frames(params + samples, width=16, height=12)
        assert len(frames) == 1
        assert np.array_equal(frames[0], px)

    def test_multi_frame_all_intra_stream(self):
        _require_hevc()
        pxs = _corpus(n=4)
        frames = decode_hevc_frames(_stream_nals(pxs), width=16, height=12)
        assert len(frames) == len(pxs)
        for f, p in zip(frames, pxs):
            assert np.array_equal(f, p)

    def test_yuv_planes_identity_gbr(self):
        """Identity-matrix 4:4:4: the Y/Cb/Cr planes ARE the G/B/R
        channels (crop window applied by the caller)."""
        _require_hevc()
        px = _corpus(n=1)[0]
        params, samples = hevc_nals_from_heic(
            encode_heif_lossless(px, fmt="heic", chroma="444"))
        (y, u, v, layout, mtrx, _full), = decode_hevc_frames_yuv(
            params + samples)
        assert layout == 3 and mtrx == 0
        assert np.array_equal(y[:12, :16], px[:, :, 1])  # G
        assert np.array_equal(u[:12, :16], px[:, :, 2])  # B
        assert np.array_equal(v[:12, :16], px[:, :, 0])  # R

    def test_420_planes_match_libheif(self):
        """4:2:0: the A/B compares RAW YCbCr planes — my direct libde265
        binding vs libheif's own decode of the same payload (crop window
        applied on my side: libheif crops to ispe, the raw decoder returns
        coded dims). Chroma planes must be bit-identical; luma is allowed
        ±1 on isolated pixels — measured: libheif 1.15's internal pipeline
        perturbs 2/192 Y samples by exactly 1 on this fixture regardless
        of de265 thread count or deblock/SAO settings (empirically ruled
        out), while raw-vs-raw determinism holds on both sides. The
        bit-exactness anchor for plane reads is the 444-lossless leg,
        which compares against ground-truth input pixels."""
        _require_hevc()
        from media_fixtures import decode_heif_native_yuv

        grad = np.zeros((12, 16, 3), dtype=np.uint8)
        grad[:, :, 0] = np.linspace(0, 255, 16, dtype=np.uint8)[None, :]
        grad[:, :, 1] = np.linspace(0, 255, 12, dtype=np.uint8)[:, None]
        grad[:, :, 2] = 128
        heic = encode_heif_lossless(grad, fmt="heic", chroma="420")
        params, samples = hevc_nals_from_heic(heic)
        (y, u, v, layout, _mtrx, _full), = decode_hevc_frames_yuv(
            params + samples)
        assert layout == 1  # 4:2:0
        hy, hcb, hcr = decode_heif_native_yuv(heic)
        ydiff = np.abs(y[:hy.shape[0], :hy.shape[1]].astype(np.int16)
                       - hy.astype(np.int16))
        assert ydiff.max() <= 1 and (ydiff > 0).sum() <= 4
        assert np.array_equal(u[:hcb.shape[0], :hcb.shape[1]], hcb)
        assert np.array_equal(v[:hcr.shape[0], :hcr.shape[1]], hcr)

    def test_corrupt_nal_raises(self):
        _require_hevc()
        with pytest.raises(ValueError):
            decode_hevc_frames([b"\xff" * 40])

    def test_crop_larger_than_coded_raises(self):
        _require_hevc()
        px = _corpus(n=1)[0]
        params, samples = hevc_nals_from_heic(
            encode_heif_lossless(px, fmt="heic", chroma="444"))
        with pytest.raises(ValueError):
            decode_hevc_frames(params + samples, width=4096, height=4096)


class TestHvcc:
    def test_parse_hvcc_fields(self):
        _require_hevc()
        record, samples = encode_hevc_samples(_corpus(n=1))
        cfg = parse_hvcc(record)
        assert cfg["nal_length_size"] == 4
        # x265 writes VPS(32)/SPS(33)/PPS(34) arrays
        types = [(n[0] >> 1) & 0x3F for n in cfg["param_nals"]]
        assert 32 in types and 33 in types and 34 in types

    def test_parse_hvcc_truncated_raises(self):
        with pytest.raises(ValueError):
            parse_hvcc(b"\x01" * 10)
        _require_hevc()
        record, _ = encode_hevc_samples(_corpus(n=1))
        with pytest.raises(ValueError):
            parse_hvcc(record[:30])

    def test_heif_item_config_finds_hvcc(self):
        _require_hevc()
        heic = encode_heif_lossless(_corpus(n=1)[0], fmt="heic")
        rec = heif_item_config(heic, b"hvcC")
        assert parse_hvcc(rec)["param_nals"]
        with pytest.raises(ValueError):
            heif_item_config(heic, b"av1C")

    def test_encode_rejects_no_frames(self):
        with pytest.raises(ValueError):
            encode_hevc_samples([])


class TestNalFraming:
    def test_split_length_prefixed_roundtrip(self):
        nals = [b"\x40\x01abc", b"\x42\x01defgh", b"\x44\x01x"]
        data = b"".join(len(n).to_bytes(4, "big") + n for n in nals)
        assert split_length_prefixed(data, 4) == nals

    def test_split_truncated_raises(self):
        with pytest.raises(ValueError):
            split_length_prefixed(b"\x00\x00\x00\x09abc", 4)
        with pytest.raises(ValueError):
            split_length_prefixed(b"\x00\x00", 4)

    def test_annexb_both_start_code_lengths(self):
        nals = [b"\x40\x01abc", b"\x42\x01def"]
        stream = (b"\x00\x00\x00\x01" + nals[0] +
                  b"\x00\x00\x01" + nals[1])
        assert annexb_to_nals(stream) == nals

    def test_annexb_no_start_code_raises(self):
        with pytest.raises(ValueError):
            annexb_to_nals(b"no start codes here")

    def test_annexb_decode_equivalent(self):
        """The same NALs decode identically whether framed Annex-B or
        length-prefixed — standalone .h265 crawl files use the former."""
        _require_hevc()
        pxs = _corpus(n=2)
        nals = _stream_nals(pxs)
        annexb = b"".join(b"\x00\x00\x00\x01" + n for n in nals)
        frames = decode_hevc_frames(annexb_to_nals(annexb),
                                    width=16, height=12)
        assert len(frames) == 2
        for f, p in zip(frames, pxs):
            assert np.array_equal(f, p)


class TestMkvHevc:
    def _mux(self, pxs, frame_duration_ms=40):
        from graphrag_mrkr_2_spark.functions import av1codec

        record, samples = encode_hevc_samples(pxs)
        with mock.patch.multiple(av1codec, MKV_VIDEO_CODEC_PRIVATE=record,
                                 MKV_FRAME_MS=frame_duration_ms):
            return av1codec.mux_mkv_video(samples, 16, 12,
                                          codec_id=b"V_MPEGH/ISO/HEVC")

    def test_mux_demux_decode_roundtrip(self):
        _require_hevc()
        from graphrag_mrkr_2_spark.functions.av1codec import (
            mkv_video_codec_private,
            mkv_video_samples,
        )

        pxs = _corpus(n=3)
        mkv = self._mux(pxs)
        cfg = parse_hvcc(mkv_video_codec_private(mkv))
        nals = list(cfg["param_nals"])
        for _, _, payload in mkv_video_samples(mkv):
            nals += split_length_prefixed(payload, cfg["nal_length_size"])
        frames = decode_hevc_frames(nals, width=16, height=12)
        assert len(frames) == 3
        for f, p in zip(frames, pxs):
            assert np.array_equal(f, p)

    def test_probe_classifies_hevc_track(self):
        _require_hevc()
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mkv

        meta = probe_mkv(self._mux(_corpus(n=2)))
        assert meta["codec"] == "hevc"
        assert (meta["width"], meta["height"]) == (16, 12)

    def test_sample_video_frames_end_to_end(self, spark):
        _require_hevc()
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_png
        from graphrag_mrkr_2_spark.operators.multimodal import (
            sample_video_frames,
        )

        pxs = _corpus(n=5)
        mkv = self._mux(pxs, frame_duration_ms=500)
        df = spark.createDataFrame(
            [("vid0", "video", mkv, {})],
            "media_id string, kind string, payload binary, "
            "meta map<string,string>",
        )
        rows = sample_video_frames(df, every_ms=1000, strict=True).collect()
        assert [r["frame_index"] for r in rows] == [0, 2, 4]
        for r in rows:
            assert np.array_equal(decode_png(bytes(r["frame"])),
                                  pxs[r["frame_index"]])
