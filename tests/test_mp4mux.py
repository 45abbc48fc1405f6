"""MP4 sample-table mux/demux (functions/mp4mux.py).

The muxer is the fixture path; the demuxer is what sample_video_frames
rides for crawl MP4s. Round-trips cover the four interlocking sample
tables (stts/stsc/stsz/stco) including ragged last chunks, plus both
codec legs the container has decoders for: hvc1 → libde265 and
av01 → libdav1d. probe_mp4 (header-only) must agree with the muxed
boxes, proving the fixture files are standards-shaped, not just
self-consistent.
"""

from __future__ import annotations

from unittest import mock

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions import mp4mux
from graphrag_mrkr_2_spark.functions.mp4mux import mp4_video_track_info, mux_mp4_video
from media_fixtures import mp4_video_samples, mux_fmp4_video


def _corpus(n=5, h=12, w=16, seed=23):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for _ in range(n)]


def _require_hevc():
    from graphrag_mrkr_2_spark.functions.heifcodec import (
        heif_available,
        heif_encoder_available,
    )
    from graphrag_mrkr_2_spark.functions.hevccodec import de265_available

    if not (heif_available("heic") and heif_encoder_available("heic")):
        pytest.skip("libheif HEVC encode not available")
    if not de265_available():
        pytest.skip("libde265 not available")


def _hevc_fixture(pxs):
    from graphrag_mrkr_2_spark.functions.hevccodec import encode_hevc_samples

    record, samples = encode_hevc_samples(pxs)
    return record, samples


class TestMuxDemux:
    def test_roundtrip_payloads_timestamps_keyframes(self):
        """Synthetic (non-coded) samples: the tables must round-trip
        byte-for-byte regardless of codec payload contents."""
        samples = [bytes([i]) * (10 + 7 * i) for i in range(5)]
        with mock.patch.object(mp4mux, "MP4_FRAME_MS", 33):
            mp4 = mux_mp4_video(samples, 64, 48, "hvc1", b"\x01" + b"\x00" * 22)
        got = mp4_video_samples(mp4)
        assert [p for _, _, p in got] == samples
        assert [t for t, _, _ in got] == [0, 33, 66, 99, 132]
        assert all(k for _, k, _ in got)  # no stss box == all sync

    def test_single_chunk_layout(self):
        samples = [b"abc", b"defg", b"h"]
        with mock.patch.object(mp4mux, "MP4_SAMPLES_PER_CHUNK", 10):
            mp4 = mux_mp4_video(samples, 8, 8, "av01", b"\x81\x05\x0c\x00")
        info = mp4_video_track_info(mp4)
        assert [p for _, _, p in info["samples"]] == samples
        assert info["codec"] == "av01"
        assert info["config"] == b"\x81\x05\x0c\x00"

    def test_probe_mp4_agrees_with_mux(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mp4

        samples = [b"x" * 20] * 4
        with mock.patch.object(mp4mux, "MP4_FRAME_MS", 25):
            mp4 = mux_mp4_video(samples, 320, 240, "hvc1", b"\x01" * 23)
        meta = probe_mp4(mp4)
        assert meta["kind"] == "video"
        assert meta["codec"] == "hvc1"
        assert (meta["width"], meta["height"]) == (320, 240)
        assert meta["duration_ms"] == 100

    def test_no_samples_raises(self):
        with pytest.raises(ValueError):
            mux_mp4_video([], 8, 8, "hvc1", b"\x01" * 23)

    def test_unknown_codec_raises(self):
        with pytest.raises(ValueError):
            mux_mp4_video([b"x"], 8, 8, "h263", b"")

    def test_not_mp4_raises(self):
        with pytest.raises(ValueError):
            mp4_video_samples(b"RIFF....AVI LIST")

    def test_single_ragged_chunk_stsc_conforms(self):
        """One sample with samples_per_chunk=2: stsc must declare the REAL
        count (1), not the nominal run size — sum over stsc chunks must
        equal stsz's sample count or conforming readers walk past mdat."""
        mp4 = mux_mp4_video([b"z" * 9], 8, 8, "hvc1", b"\x01" * 23)
        import struct

        stsc = mp4.find(b"stsc")
        n_entries = struct.unpack_from(">I", mp4, stsc + 8)[0]
        total = sum(
            struct.unpack_from(">III", mp4, stsc + 12 + 12 * i)[1]
            for i in range(n_entries)
        )
        assert total == 1
        got = mp4_video_samples(mp4)
        assert [p for _, _, p in got] == [b"z" * 9]

    def test_empty_stsc_raises_value_error(self):
        """stsc entry_count=0 with chunks present is malformed — must be
        ValueError (the quarantine contract), not IndexError."""
        import struct

        mp4 = mux_mp4_video([b"q" * 12] * 3, 8, 8, "hvc1", b"\x01" * 23)
        stsc = mp4.find(b"stsc")
        broken = mp4[:stsc + 8] + struct.pack(">I", 0) + mp4[stsc + 12:]
        with pytest.raises(ValueError):
            mp4_video_samples(broken)

    def test_truncated_table_headers_raise_value_error(self):
        """Fixed header fields shortened below their box end must raise
        ValueError, not read adjacent-box bytes or struct.error."""
        import struct

        mp4 = mux_mp4_video([b"w" * 7] * 2, 8, 8, "hvc1", b"\x01" * 23)
        stsz = mp4.find(b"stsz") - 4
        # shrink the stsz box to header+fullbox only (size 12): its
        # fixed-size/sample-count fields now lie outside the box
        broken = mp4[:stsz] + struct.pack(">I", 12) + mp4[stsz + 4:]
        with pytest.raises(ValueError):
            mp4_video_samples(broken)

    def test_sample_past_eof_raises(self):
        samples = [b"y" * 50] * 3
        mp4 = mux_mp4_video(samples, 8, 8, "hvc1", b"\x01" * 23)
        # corrupt the first stsz entry to claim a size beyond the file
        stsz = mp4.find(b"stsz")
        size_off = stsz + 4 + 4 + 8  # fourcc + FullBox header + fixed/count
        broken = (mp4[:size_off] + (1 << 24).to_bytes(4, "big")
                  + mp4[size_off + 4:])
        with pytest.raises(ValueError):
            mp4_video_samples(broken)

    def test_no_video_track_raises(self):
        _require_hevc()
        from graphrag_mrkr_2_spark.functions.heifcodec import (
            encode_heif_lossless,
        )

        heic = encode_heif_lossless(_corpus(n=1)[0], fmt="heic")
        with pytest.raises(ValueError):
            mp4_video_track_info(heic)


class TestFragmentedMp4:
    """DASH/CMAF layout: moov with empty sample tables + mvex/trex,
    samples in moof/traf/trun fragments — what segment-based crawl video
    actually ships."""

    def test_roundtrip_payloads_timestamps(self):
        samples = [bytes([i]) * (10 + 3 * i) for i in range(5)]
        fmp4 = mux_fmp4_video(samples, 16, 12, "hvc1", b"\x01" * 23)
        got = mp4_video_samples(fmp4)
        assert [p for _, _, p in got] == samples
        assert [t for t, _, _ in got] == [0, 40, 80, 120, 160]
        assert all(k for _, k, _ in got)

    def test_keyframe_flags_roundtrip(self):
        samples = [b"x" * 9] * 4
        fmp4 = mux_fmp4_video(samples, 8, 8, "av01", b"\x81\x05\x0c\x00",
                              keyframes=[True, False, False, True])
        got = mp4_video_samples(fmp4)
        assert [k for _, k, _ in got] == [True, False, False, True]

    def test_init_only_raises(self):
        fmp4 = mux_fmp4_video([b"x"], 8, 8, "hvc1", b"\x01" * 23)
        moof = fmp4.find(b"moof") - 4
        with pytest.raises(ValueError):
            mp4_video_samples(fmp4[:moof])

    @staticmethod
    def _init_segment():
        full = mux_fmp4_video([b"x"], 8, 8, "hvc1", b"\x01" * 23)
        return full[:full.find(b"moof") - 4]

    def _hand_fragment(self, trun_builder, payload, largesize=False):
        """Assemble one moof+mdat by hand: trun_builder(moof_len) returns
        the trun boxes (so data offsets can reference the final moof
        size); two passes fix the length."""
        import struct as st

        from graphrag_mrkr_2_spark.functions.mp4mux import _box, _full_box

        def build(moof_len):
            tfhd = _full_box(b"tfhd", 0,
                             0x020000 | 0x8 | 0x10,  # base-is-moof + dur + size
                             st.pack(">III", 1, 40, 4))
            tfdt = _full_box(b"tfdt", 1, 0, st.pack(">Q", 0))
            traf = _box(b"traf", tfhd + tfdt + trun_builder(moof_len))
            body = _full_box(b"mfhd", 0, 0, st.pack(">I", 1)) + traf
            if largesize:
                return (st.pack(">I", 1) + b"moof" +
                        st.pack(">Q", 16 + len(body)) + body)
            return _box(b"moof", body)

        moof = build(0)
        moof = build(len(moof))  # second pass with the real size
        return self._init_segment() + moof + _box(b"mdat", payload)

    def test_second_trun_without_offset_continues(self):
        """§8.8.8: a trun with no data-offset starts where the previous
        trun's data ended — NOT back at the base offset."""
        import struct as st

        from graphrag_mrkr_2_spark.functions.mp4mux import _full_box

        def truns(moof_len):
            return (_full_box(b"trun", 0, 0x1,
                              st.pack(">Ii", 1, moof_len + 8)) +
                    _full_box(b"trun", 0, 0, st.pack(">I", 1)))

        data = self._hand_fragment(truns, b"AAAABBBB")
        got = [p for _, _, p in mp4_video_samples(data)]
        assert got == [b"AAAA", b"BBBB"]

    def test_negative_data_offset_raises(self):
        import struct as st

        from graphrag_mrkr_2_spark.functions.mp4mux import _full_box

        def truns(_moof_len):
            return _full_box(b"trun", 0, 0x1, st.pack(">Ii", 1, -1000000))

        with pytest.raises(ValueError):
            mp4_video_samples(self._hand_fragment(truns, b"AAAA"))

    def test_largesize_moof_header(self):
        """A size==1/largesize moof (16-byte header) must still anchor
        default-base-is-moof offsets at the BOX start, not payload-8."""
        import struct as st

        from graphrag_mrkr_2_spark.functions.mp4mux import _full_box

        def truns(moof_len):
            return _full_box(b"trun", 0, 0x1,
                             st.pack(">Ii", 1, moof_len + 8))

        data = self._hand_fragment(truns, b"AAAA", largesize=True)
        got = [p for _, _, p in mp4_video_samples(data)]
        assert got == [b"AAAA"]

    def test_truncated_cts_offsets_raise(self):
        """A trun claiming per-sample cts offsets (0x800) but whose box
        ends mid-table must raise like every other truncated field, not
        silently fall back to tfhd defaults (ADVICE r6)."""
        import struct as st

        from graphrag_mrkr_2_spark.functions.mp4mux import _full_box

        def truns(moof_len):
            # count=2 with only ONE cts value present
            return _full_box(b"trun", 0, 0x801,
                             st.pack(">Iii", 2, moof_len + 8, 0))

        with pytest.raises(ValueError, match="cts"):
            mp4_video_samples(self._hand_fragment(truns, b"AAAABBBB"))

    def test_keyframes_length_mismatch_raises(self):
        with pytest.raises(ValueError):
            mux_fmp4_video([b"a", b"b", b"c"], 8, 8, "hvc1", b"\x01" * 23, keyframes=[True])

    def test_hevc_decode_through_fragments(self):
        _require_hevc()
        from graphrag_mrkr_2_spark.functions.hevccodec import (
            decode_hevc_frames,
            parse_hvcc,
            split_length_prefixed,
        )

        pxs = _corpus(n=5)
        record, samples = _hevc_fixture(pxs)
        fmp4 = mux_fmp4_video(samples, 16, 12, "hvc1", record)
        info = mp4_video_track_info(fmp4)
        cfg = parse_hvcc(info["config"])
        nals = list(cfg["param_nals"])
        for _, _, p in info["samples"]:
            nals += split_length_prefixed(p, cfg["nal_length_size"])
        frames = decode_hevc_frames(nals, width=info["width"],
                                    height=info["height"])
        assert len(frames) == 5
        for f, p in zip(frames, pxs):
            assert np.array_equal(f, p)

    def test_sample_video_frames_end_to_end(self, spark):
        _require_hevc()
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_png
        from graphrag_mrkr_2_spark.operators.multimodal import (
            sample_video_frames,
        )

        pxs = _corpus(n=5)
        record, samples = _hevc_fixture(pxs)
        with mock.patch.object(mp4mux, "MP4_FRAME_MS", 500):
            fmp4 = mux_fmp4_video(samples, 16, 12, "hvc1", record)
        df = spark.createDataFrame(
            [("vid0", "video", fmp4, {})],
            "media_id string, kind string, payload binary, "
            "meta map<string,string>",
        )
        rows = sample_video_frames(df, every_ms=1000, strict=True).collect()
        assert [r["frame_index"] for r in rows] == [0, 2, 4]
        for r in rows:
            assert np.array_equal(decode_png(bytes(r["frame"])),
                                  pxs[r["frame_index"]])


class TestHevcInMp4:
    def test_decode_roundtrip_bit_exact(self):
        _require_hevc()
        from graphrag_mrkr_2_spark.functions.hevccodec import (
            decode_hevc_frames,
            parse_hvcc,
            split_length_prefixed,
        )

        pxs = _corpus(n=5)
        record, samples = _hevc_fixture(pxs)
        mp4 = mux_mp4_video(samples, 16, 12, "hvc1", record)  # ragged: chunks 2+2+1
        info = mp4_video_track_info(mp4)
        cfg = parse_hvcc(info["config"])
        nals = list(cfg["param_nals"])
        for _, _, p in info["samples"]:
            nals += split_length_prefixed(p, cfg["nal_length_size"])
        frames = decode_hevc_frames(nals, width=info["width"],
                                    height=info["height"])
        assert len(frames) == 5
        for f, p in zip(frames, pxs):
            assert np.array_equal(f, p)

    def test_sample_video_frames_end_to_end(self, spark):
        _require_hevc()
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_png
        from graphrag_mrkr_2_spark.operators.multimodal import (
            sample_video_frames,
        )

        pxs = _corpus(n=5)
        record, samples = _hevc_fixture(pxs)
        with mock.patch.object(mp4mux, "MP4_FRAME_MS", 500):
            mp4 = mux_mp4_video(samples, 16, 12, "hvc1", record)
        df = spark.createDataFrame(
            [("vid0", "video", mp4, {})],
            "media_id string, kind string, payload binary, "
            "meta map<string,string>",
        )
        rows = sample_video_frames(df, every_ms=1000, strict=True).collect()
        assert [r["frame_index"] for r in rows] == [0, 2, 4]
        for r in rows:
            assert np.array_equal(decode_png(bytes(r["frame"])),
                                  pxs[r["frame_index"]])

    def test_hevc_roundtrip_checksums_matches_formula(self, spark):
        _require_hevc()
        from graphrag_mrkr_2_spark.operators.multimodal import (
            hevc_roundtrip_checksums,
        )

        df = spark.createDataFrame([(7,), (42,)], "doc_id long")
        rows = {r["doc_id"]: int(r["hevc_checksum"])
                for r in hevc_roundtrip_checksums(df, n_frames=2).collect()}
        f = np.arange(2)[:, None, None, None]
        r_ = np.arange(12)[None, :, None, None]
        c = np.arange(16)[None, None, :, None]
        ch = np.arange(3)[None, None, None, :]
        w = np.arange(2 * 12 * 16 * 3).reshape(2, 12, 16, 3) + 1
        for doc_id in (7, 42):
            val = (doc_id * 11 + f * 89 + r_ * 29 + c * 17 + ch * 3) % 256
            assert rows[str(doc_id)] == int((val * w).sum())


class TestAv1InMp4:
    def test_decode_roundtrip_bit_exact(self):
        from graphrag_mrkr_2_spark.functions.av1codec import (
            avif_primary_obu,
            dav1d_available,
            decode_av1_frames,
        )
        from graphrag_mrkr_2_spark.functions.heifcodec import (
            encode_heif_lossless,
            heif_available,
            heif_encoder_available,
        )
        from graphrag_mrkr_2_spark.functions.hevccodec import heif_item_config

        if not (heif_available("avif") and heif_encoder_available("avif")
                and dav1d_available()):
            pytest.skip("AVIF encode / dav1d not available")
        pxs = _corpus(n=3)
        avifs = [encode_heif_lossless(p, fmt="avif") for p in pxs]
        obus = [avif_primary_obu(a) for a in avifs]
        mp4 = mux_mp4_video(obus, 16, 12, "av01",
                            heif_item_config(avifs[0], b"av1C"))
        info = mp4_video_track_info(mp4)
        frames = decode_av1_frames([p for _, _, p in info["samples"]])
        assert len(frames) == 3
        for fr, p in zip(frames, pxs):
            assert np.array_equal(fr, p)

    def test_sample_video_frames_av01(self, spark):
        from graphrag_mrkr_2_spark.functions.av1codec import (
            avif_primary_obu,
            dav1d_available,
        )
        from graphrag_mrkr_2_spark.functions.heifcodec import (
            encode_heif_lossless,
            heif_available,
            heif_encoder_available,
        )
        from graphrag_mrkr_2_spark.functions.hevccodec import heif_item_config
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_png
        from graphrag_mrkr_2_spark.operators.multimodal import (
            sample_video_frames,
        )

        if not (heif_available("avif") and heif_encoder_available("avif")
                and dav1d_available()):
            pytest.skip("AVIF encode / dav1d not available")
        pxs = _corpus(n=3)
        avifs = [encode_heif_lossless(p, fmt="avif") for p in pxs]
        with mock.patch.object(mp4mux, "MP4_FRAME_MS", 1000):
            mp4 = mux_mp4_video([avif_primary_obu(a) for a in avifs], 16, 12,
                                "av01", heif_item_config(avifs[0], b"av1C"))
        df = spark.createDataFrame(
            [("vid0", "video", mp4, {})],
            "media_id string, kind string, payload binary, "
            "meta map<string,string>",
        )
        rows = sample_video_frames(df, every_ms=1000, strict=True).collect()
        assert [r["frame_index"] for r in rows] == [0, 1, 2]
        for r in rows:
            assert np.array_equal(decode_png(bytes(r["frame"])),
                                  pxs[r["frame_index"]])
