"""Coded-audio framing: MKV lacing, MP4 audio sample tables, MP3 frame
walks, Ogg packet reassembly, and the sample_audio_payloads operator.

The decode seam stays injectable (no audio decoder library exists in this
container — SCALE.md); these tests pin that the DEMUX layer hands an
injected decoder exactly the coded frames the muxer wrote, byte for byte,
through every framing real crawls ship."""

import struct
from unittest import mock

import pytest

from graphrag_mrkr_2_spark.functions import audiodemux, mp4mux
from graphrag_mrkr_2_spark.functions.audiodemux import (
    mkv_audio_track_info,
    mp3_frames,
    mux_mkv_audio,
    mux_ogg,
    ogg_packets,
)
from media_fixtures import mkv_audio_samples
from graphrag_mrkr_2_spark.functions.mp4mux import mp4_audio_track_info, mux_mp4_audio
from media_fixtures import mp4_audio_samples

FRAMES = [bytes([i]) * (20 + (i * 37) % 300) for i in range(23)]


# ---------------------------------------------------------------------------
# Matroska audio: lacing modes, metadata, timestamps
# ---------------------------------------------------------------------------


class TestMkvAudio:
    @pytest.mark.parametrize("lacing", [None, "xiph", "ebml"])
    def test_roundtrip_all_lacings(self, lacing, monkeypatch):
        monkeypatch.setattr(audiodemux, "MKV_AUDIO_FRAMES_PER_BLOCK", 5)
        blob = mux_mkv_audio(FRAMES, codec_id=b"A_OPUS", lacing=lacing)
        info = mkv_audio_track_info(blob)
        assert [p for _, p in info["samples"]] == FRAMES
        # laced frames reconstruct timestamps from DefaultDuration
        assert [t for t, _ in info["samples"]] == [i * 20 for i in range(23)]
        assert info["codec"] == "A_OPUS"
        assert info["sample_rate"] == 48000.0
        assert info["channels"] == 2

    def test_fixed_lacing_roundtrip(self):
        eq = [bytes([i]) * 64 for i in range(10)]
        blob = mux_mkv_audio(eq, lacing="fixed")
        assert [p for _, p in mkv_audio_samples(blob)] == eq

    def test_fixed_lacing_rejects_unequal_frames(self, monkeypatch):
        monkeypatch.setattr(audiodemux, "MKV_AUDIO_FRAMES_PER_BLOCK", 2)
        with pytest.raises(ValueError, match="equal-size"):
            mux_mkv_audio([b"aa", b"bbb"], lacing="fixed")

    def test_xiph_255_boundary_frames(self, monkeypatch):
        # frame sizes at the 255-run boundaries are the classic Xiph bug
        frames = [b"a" * 254, b"b" * 255, b"c" * 256, b"d" * 510, b"e"]
        monkeypatch.setattr(audiodemux, "MKV_AUDIO_FRAMES_PER_BLOCK", 5)
        blob = mux_mkv_audio(frames, lacing="xiph")
        assert [p for _, p in mkv_audio_samples(blob)] == frames

    def test_ebml_lacing_negative_deltas(self, monkeypatch):
        # shrinking frame sizes force negative signed-vint deltas
        frames = [b"x" * n for n in (400, 100, 350, 20, 500)]
        monkeypatch.setattr(audiodemux, "MKV_AUDIO_FRAMES_PER_BLOCK", 5)
        blob = mux_mkv_audio(frames, lacing="ebml")
        assert [p for _, p in mkv_audio_samples(blob)] == frames

    def test_codec_private_surfaces(self, monkeypatch):
        monkeypatch.setattr(audiodemux, "MKV_AUDIO_CODEC_PRIVATE", b"\x02abc")
        blob = mux_mkv_audio([b"pkt"], codec_id=b"A_VORBIS")
        assert mkv_audio_track_info(blob)["codec_private"] == b"\x02abc"

    def test_no_audio_track_raises(self):
        from graphrag_mrkr_2_spark.functions.av1codec import mux_webm_av1

        vid = mux_webm_av1([b"obu"], 4, 4)
        with pytest.raises(ValueError, match="no audio track"):
            mkv_audio_track_info(vid)

    def test_truncated_lace_table_raises(self, monkeypatch):
        monkeypatch.setattr(audiodemux, "MKV_AUDIO_FRAMES_PER_BLOCK", 6)
        blob = bytearray(mux_mkv_audio(FRAMES[:6], lacing="xiph"))
        # corrupt the lace count byte to claim more frames than sizes
        # present: find the SimpleBlock body and bump its frame count
        # body layout: track vint (the 0x81), s16 timestamp, flags, count
        idx = bytes(blob).rfind(b"\x81")
        blob[idx + 4] = 250
        with pytest.raises(ValueError):
            mkv_audio_samples(bytes(blob))


class TestMkvBlockGroupKeyframes:
    """ADVICE r6: BlockGroup blocks are keyframes iff no ReferenceBlock."""

    @staticmethod
    def _mkv_with_blockgroups():
        from graphrag_mrkr_2_spark.functions.av1codec import (
            _el,
            _uint_payload,
            ebml_header,
        )

        info = _el(0x1549A966, _el(0x2AD7B1, _uint_payload(1_000_000)))
        track = _el(0x1654AE6B, _el(0xAE, b"".join([
            _el(0xD7, _uint_payload(1)),
            _el(0x73C5, _uint_payload(1)),
            _el(0x83, _uint_payload(1)),          # video
            _el(0x86, b"V_VP8"),
            _el(0xE0, _el(0xB0, _uint_payload(4)) +
                _el(0xBA, _uint_payload(4))),
        ])))

        def group(ts, payload, referenced):
            body = _el(0xA1, b"\x81" + struct.pack(">hB", ts, 0) + payload)
            if referenced:
                body += _el(0xFB, b"\xff")  # ReferenceBlock: -1 (prev)
            return _el(0xA0, body)

        cluster = _el(0x1F43B675, _el(0xE7, _uint_payload(0)) +
                      group(0, b"KEY", referenced=False) +
                      group(20, b"INTER", referenced=True))
        return ebml_header(b"webm") + _el(0x18538067, info + track + cluster)

    def test_referenceblock_marks_interframes(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import mkv_track_blocks

        track, blocks = mkv_track_blocks(self._mkv_with_blockgroups(),
                                         want_type=1)
        flags = {payload: key for _, key, _, payload in blocks}
        assert track is not None
        assert flags == {b"KEY": True, b"INTER": False}


# ---------------------------------------------------------------------------
# MP4 audio tracks
# ---------------------------------------------------------------------------


class TestMp4Audio:
    def test_roundtrip_ragged_chunks(self, monkeypatch):
        monkeypatch.setattr(mp4mux, "MP4_AUDIO_CONFIG_RECORD", b"\x03\x80\x22")
        monkeypatch.setattr(mp4mux, "MP4_AUDIO_CHUNK_PATTERN", (3, 1, 4))
        blob = mux_mp4_audio(FRAMES, codec="mp4a", sample_rate=44100,
                             channels=2)
        info = mp4_audio_track_info(blob)
        assert [p for _, _, p in info["samples"]] == FRAMES
        assert (info["codec"], info["channels"], info["sample_rate"]) == \
            ("mp4a", 2, 44100)
        assert info["config"] == b"\x03\x80\x22"
        assert [t for t, _, _ in info["samples"]] == \
            [i * 20 for i in range(23)]

    def test_raw_mp3_entry_has_no_config(self):
        blob = mux_mp4_audio(FRAMES[:5], codec=".mp3", sample_rate=32000,
                             channels=1)
        info = mp4_audio_track_info(blob)
        assert info["config"] is None
        assert [p for _, p in mp4_audio_samples(blob)] == FRAMES[:5]

    def test_opus_config_box(self, monkeypatch):
        dops = b"\x00\x02\x00\x78\x00\x00\xbb\x80\x00\x00\x00"
        monkeypatch.setattr(mp4mux, "MP4_AUDIO_CONFIG_RECORD", dops)
        blob = mux_mp4_audio(FRAMES[:3], codec="Opus", sample_rate=48000,
                             channels=2)
        assert mp4_audio_track_info(blob)["config"] == dops

    def test_video_reader_skips_audio_only_file(self):
        from graphrag_mrkr_2_spark.functions.mp4mux import mp4_video_track_info

        blob = mux_mp4_audio(FRAMES[:3], codec="mp4a", sample_rate=48000,
                             channels=2)
        with pytest.raises(ValueError, match="no video track"):
            mp4_video_track_info(blob)

    def test_audio_reader_skips_video_only_file(self):
        from graphrag_mrkr_2_spark.functions.mp4mux import mux_mp4_video

        blob = mux_mp4_video([b"obu"], 4, 4, codec="av01",
                             config_record=b"\x81\x00\x00\x00")
        with pytest.raises(ValueError, match="no audio track"):
            mp4_audio_track_info(blob)

    def test_rate_over_16bit_rejected(self):
        with pytest.raises(ValueError, match="65535"):
            mux_mp4_audio([b"x"], codec="mp4a", sample_rate=96000,
                          channels=2)

    def test_truncated_sample_raises(self):
        blob = mux_mp4_audio(FRAMES[:4], codec="mp4a", sample_rate=48000,
                             channels=2)
        # moov sits after mdat in this layout; cutting mdat bytes while
        # keeping moov intact makes a sample overrun the file
        cut = blob[:60] + blob[blob.rfind(b"moov") - 4:]
        with pytest.raises(ValueError):
            mp4_audio_track_info(cut)


# ---------------------------------------------------------------------------
# Bare MP3 streams
# ---------------------------------------------------------------------------

_MP3_HDR_128 = bytes([0xFF, 0xFB, 0x90, 0x00])   # MPEG1 L3 128k 44100
_MP3_HDR_160 = bytes([0xFF, 0xFB, 0xA0, 0x00])   # MPEG1 L3 160k 44100


def _mp3_frame(hdr: bytes) -> bytes:
    from graphrag_mrkr_2_spark.functions.mediaprobe import _parse_mp3_header

    h = _parse_mp3_header(hdr + bytes(4), 0)
    return hdr + bytes(h["frame_len"] - 4)


class TestMp3Frames:
    def test_cbr_walk_and_timestamps(self):
        frame = _mp3_frame(_MP3_HDR_128)
        stream = frame * 10
        out = mp3_frames(stream)
        assert len(out) == 10
        assert all(p == frame for _, p in out)
        # 1152 samples @44100 ≈ 26.12 ms per frame
        assert [t for t, _ in out[:4]] == [0, 26, 52, 78]

    def test_vbr_frames_split_by_their_own_headers(self):
        a, b = _mp3_frame(_MP3_HDR_128), _mp3_frame(_MP3_HDR_160)
        out = mp3_frames(a + b + a + b)
        assert [len(p) for _, p in out] == [len(a), len(b), len(a), len(b)]

    def test_id3v2_prefix_skipped_and_trailer_stops_walk(self):
        frame = _mp3_frame(_MP3_HDR_128)
        id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + bytes(10)
        stream = id3 + frame * 5 + b"TAG" + bytes(125)
        out = mp3_frames(stream)
        assert len(out) == 5
        assert all(p == frame for _, p in out)

    def test_truncated_final_frame_dropped(self):
        frame = _mp3_frame(_MP3_HDR_128)
        out = mp3_frames(frame * 3 + frame[:100])
        assert len(out) == 3

    def test_non_mp3_raises(self):
        with pytest.raises(ValueError, match="sync"):
            mp3_frames(b"\x00" * 4096)


# ---------------------------------------------------------------------------
# Ogg packet reassembly
# ---------------------------------------------------------------------------

_PKTS = [b"OpusHead" + bytes(11), b"OpusTags", b"x" * 255, b"y" * 1000,
         b"z" * 3]


class TestOggPackets:
    @pytest.mark.parametrize("cap", [255, 3, 1])
    def test_roundtrip_forced_continuation(self, cap):
        blob = mux_ogg(_PKTS, page_segment_cap=cap)
        assert ogg_packets(blob) == _PKTS

    def test_exact_255_multiple_needs_terminator(self):
        pkts = [b"a" * 510, b"b"]
        assert ogg_packets(mux_ogg(pkts)) == pkts

    def test_multiplexed_serial_skipped(self, monkeypatch):
        monkeypatch.setattr(audiodemux, "OGG_SERIAL", 7)
        a = mux_ogg(_PKTS[:3])
        monkeypatch.setattr(audiodemux, "OGG_SERIAL", 9)
        b = mux_ogg([b"other"])

        def pages(x):
            out, pos = [], 0
            while pos < len(x):
                nseg = x[pos + 26]
                total = sum(x[pos + 27:pos + 27 + nseg])
                end = pos + 27 + nseg + total
                out.append(x[pos:end])
                pos = end
            return out

        pa, pb = pages(a), pages(b)
        mixed = pa[0] + pb[0] + b"".join(pa[1:])
        assert ogg_packets(mixed) == _PKTS[:3]

    def test_orphan_continuation_page_dropped(self):
        # a stream starting mid-packet (live-capture tail): the orphan
        # continuation segments are skipped, later packets survive
        blob = mux_ogg([b"q" * 600, b"tail"], page_segment_cap=1)

        def pages(x):
            out, pos = [], 0
            while pos < len(x):
                nseg = x[pos + 26]
                total = sum(x[pos + 27:pos + 27 + nseg])
                end = pos + 27 + nseg + total
                out.append(x[pos:end])
                pos = end
            return out

        ps = pages(blob)
        # drop the BOS page → first remaining page is a continuation
        clipped = b"".join(ps[1:])
        assert ogg_packets(clipped) == [b"tail"]

    def test_truncated_page_raises(self):
        blob = mux_ogg(_PKTS)
        with pytest.raises(ValueError):
            ogg_packets(blob[:len(blob) - 2])

    def test_non_ogg_raises(self):
        with pytest.raises(ValueError, match="Ogg"):
            ogg_packets(b"not ogg at all")


# ---------------------------------------------------------------------------
# The Spark operator
# ---------------------------------------------------------------------------


@pytest.mark.spark
class TestSampleAudioPayloads:
    @pytest.fixture(scope="class")
    def media_df(self, spark):
        from graphrag_mrkr_2_spark.functions.audiocodecs import encode_wav
        from graphrag_mrkr_2_spark.operators.multimodal import MEDIA_SCHEMA
        import numpy as np

        wav = encode_wav(np.zeros((160, 1), dtype=np.int16), 16000)
        with mock.patch.object(mp4mux, "MP4_AUDIO_CONFIG_RECORD", b"\x03\x22"):
            mp4_aac = mux_mp4_audio(FRAMES, codec="mp4a", sample_rate=44100,
                                    channels=2)
        rows = [
            ("mp4", "audio", mp4_aac,
             {"codec": "aac"}),
            ("mkv", "audio",
             mux_mkv_audio(FRAMES, codec_id=b"A_VORBIS", lacing="xiph"),
             {"codec": "vorbis"}),
            ("ogg", "audio", mux_ogg(_PKTS), {"codec": "opus"}),
            ("mp3", "audio", _mp3_frame(_MP3_HDR_128) * 7,
             {"codec": "mp3"}),
            ("wav", "audio", wav, {"codec": "pcm"}),
            ("bad", "audio", b"\x00garbage\xff" * 30,
             {"codec": None, "duration_ms": 200}),
            ("img", "image", b"not audio", {"codec": "png"}),
        ]
        return spark.createDataFrame(
            [(m, k, p, meta) for m, k, p, meta in rows], MEDIA_SCHEMA)

    def test_real_payloads_roundtrip(self, media_df):
        from graphrag_mrkr_2_spark.operators.multimodal import (
            sample_audio_payloads,
        )

        got = sample_audio_payloads(media_df).collect()
        by_id = {}
        for r in got:
            by_id.setdefault(r["media_id"], []).append(r)
        for mid in by_id:
            by_id[mid].sort(key=lambda r: r["sample_index"])
        assert set(by_id) == {"mp4", "mkv", "ogg", "mp3", "wav", "bad"}
        assert [bytes(r["payload"]) for r in by_id["mp4"]] == FRAMES
        assert [bytes(r["payload"]) for r in by_id["mkv"]] == FRAMES
        assert [bytes(r["payload"]) for r in by_id["ogg"]] == _PKTS
        assert len(by_id["mp3"]) == 7
        assert {r["codec"] for r in by_id["mp4"]} == {"aac"}
        assert {r["codec"] for r in by_id["mkv"]} == {"vorbis"}
        assert {r["codec"] for r in by_id["ogg"]} == {"opus"}
        assert by_id["wav"][0]["codec"] == "pcm"
        # timestamps real, not index*constant
        assert [r["ts_ms"] for r in by_id["mkv"][:3]] == [0, 20, 40]
        # corrupt payload falls back to deterministic fakes
        assert {r["codec"] for r in by_id["bad"]} == {"fake"}
        assert len(by_id["bad"]) == 10  # 200ms // 20

    def test_strict_raises_on_unknown(self, media_df):
        from graphrag_mrkr_2_spark.operators.multimodal import (
            sample_audio_payloads,
        )
        from py4j.protocol import Py4JJavaError

        bad = media_df.where("media_id = 'bad'")
        with pytest.raises(Exception):
            sample_audio_payloads(bad, strict=True).collect()
