"""Header-only probes for compressed media (functions/mediaprobe.py).

Decode for these formats is an explicit codec seam (no decoder library in
this environment), but classification/routing metadata is real parsing.
The fixtures are built from the public container specs (ISO 14496-12, the
MPEG audio frame header layout, RFC 3533/7845, the FLAC spec) field by
field, then the probes must read back exactly what was written — plus
negative cases that must quarantine, not crash.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions.mediaprobe import (
    gif_animation_info,
    probe_flac,
    probe_mp3,
    probe_mp4,
    probe_ogg,
    sniff_flac,
    sniff_mp3,
    sniff_mp4,
    sniff_ogg,
    webp_animation_info,
)
from graphrag_mrkr_2_spark.operators.multimodal import probe_media

try:  # full-suite runs import tests' modules top-level (no package)
    from tests.test_webpcodec import _mux_animation
except ModuleNotFoundError:
    from test_webpcodec import _mux_animation


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _mp4(width=640, height=360, timescale=1000, duration=12000,
         codec=b"avc1", video=True) -> bytes:
    mvhd = _box(b"mvhd", b"\x00" + b"\x00" * 3 + b"\x00" * 8
                + struct.pack(">II", timescale, duration) + b"\x00" * 80)
    tkhd = _box(b"tkhd", b"\x00" * 76
                + struct.pack(">II", width << 16, height << 16))
    stsd = _box(b"stsd", b"\x00" * 8 + _box(codec, b"\x00" * 70))
    stbl = _box(b"stbl", stsd)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    return ftyp + moov


class TestMp4:
    def test_video_metadata(self):
        data = _mp4()
        assert sniff_mp4(data)
        out = probe_mp4(data)
        assert out == {"kind": "video", "codec": "avc1", "width": 640,
                       "height": 360, "duration_ms": 12000}

    def test_audio_only(self):
        out = probe_mp4(_mp4(codec=b"mp4a", video=False))
        assert out["kind"] == "audio" and out["codec"] == "mp4a"
        assert out["duration_ms"] == 12000

    def test_largesize_box(self):
        data = _mp4()
        # rewrap moov with a 64-bit size header
        moov_at = data.index(b"moov") - 4
        moov = data[moov_at:]
        payload = moov[8:]
        big = struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(payload)) + payload
        out = probe_mp4(data[:moov_at] + big)
        assert out["duration_ms"] == 12000 and out["width"] == 640

    def test_v1_mvhd(self):
        mvhd = _box(b"mvhd", b"\x01" + b"\x00" * 3 + b"\x00" * 16
                    + struct.pack(">IQ", 90000, 90000 * 7) + b"\x00" * 80)
        data = _box(b"ftyp", b"isom") + _box(b"moov", mvhd)
        assert probe_mp4(data)["duration_ms"] == 7000

    def test_truncated_box_rejected(self):
        data = _mp4()
        bad = bytearray(data)
        moov_at = data.index(b"moov") - 4
        bad[moov_at:moov_at + 4] = struct.pack(">I", len(data) * 2)
        with pytest.raises(ValueError, match="overruns"):
            probe_mp4(bytes(bad))

    def test_probe_media_dispatch(self):
        out = probe_media(_mp4())
        assert out["kind"] == "video" and out["codec"] == "avc1"
        assert (out["width"], out["height"]) == (640, 360)

    def test_probe_media_quarantines_malformed(self):
        data = _mp4()
        bad = bytearray(data)
        moov_at = data.index(b"moov") - 4
        bad[moov_at:moov_at + 4] = struct.pack(">I", len(data) * 2)
        out = probe_media(bytes(bad))
        assert out["kind"] == "video" and out["codec"] is None


def _fmp4(n=10, mehd=False, sidx=False) -> bytes:
    from media_fixtures import mux_fmp4_video

    return mux_fmp4_video([bytes([i]) * 6 for i in range(n)], 8, 8, "hvc1", b"\x01" * 23,
                          samples_per_fragment=3, mehd=mehd, sidx=sidx)


def _sidx(ref_id, timescale, entries) -> bytes:
    """entries = [(is_sidx_ref, size, duration_ticks), ...]"""
    refs = b"".join(
        struct.pack(">III", (t << 31) | sz, dur, 0x90000000)
        for t, sz, dur in entries)
    return _box(b"sidx", b"\x00" * 4 + struct.pack(
        ">IIIIHH", ref_id, timescale, 0, 0, 0, len(entries)) + refs)


class TestFragmentedDuration:
    """r7 (VERDICT r6 #5): fMP4 durations from the spec'd fast paths —
    moov/mvex/mehd first, top-level sidx next — since mvhd.duration is 0
    in fragmented files."""

    def test_plain_fmp4_has_no_duration(self):
        # 10 × 40 ms of samples but no mehd/sidx: mvhd says 0 → unknown
        assert probe_mp4(_fmp4())["duration_ms"] is None

    def test_mehd_duration(self):
        assert probe_mp4(_fmp4(mehd=True))["duration_ms"] == 400

    def test_sidx_duration(self):
        assert probe_mp4(_fmp4(sidx=True))["duration_ms"] == 400

    def test_mehd_wins_over_sidx(self):
        # make the two sources disagree: halve the sidx timescale so it
        # would claim 800 ms — mehd's 400 must win (spec precedence)
        data = bytearray(_fmp4(mehd=True, sidx=True))
        at = data.index(b"sidx") + 8  # verflags, then ref_id, timescale
        assert struct.unpack_from(">I", data, at + 4)[0] == 1000
        struct.pack_into(">I", data, at + 4, 500)
        assert probe_mp4(bytes(data))["duration_ms"] == 400

    def test_classic_mvhd_still_wins(self):
        data = _mp4(duration=1234)
        assert probe_mp4(data)["duration_ms"] == 1234

    def test_moov_beyond_prefix_uses_sidx(self):
        # a bounded-prefix read of a live stream: ftyp + sidx, moov absent
        data = _fmp4(sidx=True)
        moov_at = data.index(b"moov") - 4
        (moov_sz,) = struct.unpack_from(">I", data, moov_at)
        clipped = data[:moov_at] + data[moov_at + moov_sz:]
        assert probe_mp4(clipped)["duration_ms"] == 400

    def test_sequential_sidx_chain_sums(self):
        # DASH live profile: one media-referencing sidx per segment,
        # same reference_ID — durations sum across the chain
        data = (_box(b"ftyp", b"iso5" + struct.pack(">I", 512) + b"mp41")
                + _sidx(1, 1000, [(0, 100, 250)])
                + _sidx(1, 1000, [(0, 100, 150)]))
        assert probe_mp4(data)["duration_ms"] == 400

    def test_hierarchical_sidx_not_double_counted(self):
        # on-demand profile: a parent sidx whose type-1 entries point at
        # child sidx boxes — the children re-describe the same time range
        data = (_box(b"ftyp", b"iso5" + struct.pack(">I", 512) + b"mp41")
                + _sidx(1, 1000, [(1, 100, 250), (1, 100, 150)])
                + _sidx(1, 1000, [(0, 100, 250)])
                + _sidx(1, 1000, [(0, 100, 150)]))
        assert probe_mp4(data)["duration_ms"] == 400

    def test_other_track_sidx_ignored(self):
        data = (_box(b"ftyp", b"iso5" + struct.pack(">I", 512) + b"mp41")
                + _sidx(1, 1000, [(0, 100, 250)])
                + _sidx(2, 1000, [(0, 100, 9999)]))
        assert probe_mp4(data)["duration_ms"] == 250

    def test_truncated_sidx_raises(self):
        data = _fmp4(sidx=True)
        at = data.index(b"sidx") - 4
        (sz,) = struct.unpack_from(">I", data, at)
        # keep the box header honest but cut the reference list short
        clipped = bytearray(data[:at + sz - 8])
        struct.pack_into(">I", clipped, at, sz - 8)
        with pytest.raises(ValueError):
            probe_mp4(bytes(clipped))
        # probe_media must quarantine it, not crash
        assert probe_media(bytes(clipped))["codec"] is None


def _mp3_frame(version=3, bitrate_idx=9, rate_idx=0, mono=False) -> bytes:
    """One valid Layer-III frame (header + zero payload of the right size)."""
    b1 = 0xE0 | (version << 3) | (1 << 1) | 1
    b3 = 0xC0 if mono else 0x00
    hdr = bytes([0xFF, b1, (bitrate_idx << 4) | (rate_idx << 2), b3])
    from graphrag_mrkr_2_spark.functions.mediaprobe import _parse_mp3_header

    info = _parse_mp3_header(hdr + b"\x00" * 4, 0)
    return hdr + b"\x00" * (info["frame_len"] - 4)


class TestMp3:
    def test_cbr_stream(self):
        frames = _mp3_frame() * 40  # MPEG1 L3 128kbps 44100
        assert sniff_mp3(frames)
        out = probe_mp3(frames)
        assert out["codec"] == "mp3" and out["sample_rate"] == 44100
        assert out["channels"] == 2
        # 40 frames * 1152 samples / 44100 Hz = 1044 ms; CBR estimate over
        # bytes gives the same number for constant bitrate
        assert out["duration_ms"] == pytest.approx(1044, abs=10)

    def test_id3v2_skipped(self):
        tag = b"ID3\x04\x00\x00" + bytes([0, 0, 2, 5]) + b"\x00" * ((2 << 7) + 5)
        data = tag + _mp3_frame(mono=True) * 5
        out = probe_mp3(data)
        assert out["channels"] == 1

    def test_single_sync_word_not_enough(self):
        # a lone 0xFF 0xFB pair inside noise: the second-frame check kills it
        noise = b"ab" * 100 + b"\xff\xfb\x90\x00" + b"cd" * 100
        assert not sniff_mp3(noise)
        with pytest.raises(ValueError):
            probe_mp3(noise)

    def test_mpeg2_half_rate(self):
        out = probe_mp3(_mp3_frame(version=2, rate_idx=0) * 10)
        assert out["sample_rate"] == 22050

    def test_probe_media_dispatch(self):
        out = probe_media(_mp3_frame() * 3)
        assert out["kind"] == "audio" and out["codec"] == "mp3"


def _ogg_page(payload: bytes, granule=0, seq=0, header_type=0) -> bytes:
    segs = []
    n = len(payload)
    while n >= 255:
        segs.append(255)
        n -= 255
    segs.append(n)
    page = (b"OggS\x00" + bytes([header_type]) + struct.pack("<q", granule)
            + struct.pack("<III", 1, seq, 0) + bytes([len(segs)])
            + bytes(segs) + payload)
    return page


class TestOgg:
    def test_opus(self):
        head = (b"OpusHead\x01" + bytes([2]) + struct.pack("<H", 312)
                + struct.pack("<I", 48000) + b"\x00\x00\x00")
        data = _ogg_page(head, header_type=2) + _ogg_page(
            b"\x00" * 100, granule=48000 * 3 + 312, seq=7, header_type=4)
        assert sniff_ogg(data)
        out = probe_ogg(data)
        assert out["codec"] == "opus" and out["channels"] == 2
        assert out["sample_rate"] == 48000
        assert out["duration_ms"] == 3000  # granule minus pre-skip

    def test_vorbis(self):
        head = (b"\x01vorbis" + b"\x00\x00\x00\x00" + bytes([2])
                + struct.pack("<I", 44100) + b"\x00" * 16)
        data = _ogg_page(head, header_type=2) + _ogg_page(
            b"\x00" * 10, granule=44100 * 2, seq=3, header_type=4)
        out = probe_ogg(data)
        assert out["codec"] == "vorbis" and out["sample_rate"] == 44100
        assert out["duration_ms"] == 2000

    def test_unknown_codec_kind_only(self):
        data = _ogg_page(b"Speex   " + b"\x00" * 20)
        out = probe_ogg(data)
        assert out["kind"] == "audio" and out["codec"] is None

    def test_probe_media_dispatch(self):
        head = (b"OpusHead\x01" + bytes([1]) + struct.pack("<H", 0)
                + struct.pack("<I", 16000) + b"\x00\x00\x00")
        out = probe_media(_ogg_page(head, header_type=2))
        assert out["kind"] == "audio" and out["codec"] == "opus"


def _flac(sample_rate=44100, channels=2, total=44100 * 5) -> bytes:
    si = bytearray(34)
    si[10] = (sample_rate >> 12) & 0xFF
    si[11] = (sample_rate >> 4) & 0xFF
    si[12] = ((sample_rate & 0xF) << 4) | ((channels - 1) << 1)
    si[13] = (15 << 0)  # bits-per-sample tail + top 4 bits of total (0)
    si[13] = (si[13] & 0xF0) | ((total >> 32) & 0x0F)
    si[14:18] = struct.pack(">I", total & 0xFFFFFFFF)
    return b"fLaC" + bytes([0x80]) + b"\x00\x00\x22" + bytes(si)


class TestFlac:
    def test_streaminfo(self):
        data = _flac()
        assert sniff_flac(data)
        out = probe_flac(data)
        assert out == {"kind": "audio", "codec": "flac",
                       "sample_rate": 44100, "channels": 2,
                       "duration_ms": 5000}

    def test_odd_rate_and_channels(self):
        out = probe_flac(_flac(sample_rate=96000, channels=6, total=96000))
        assert out["sample_rate"] == 96000 and out["channels"] == 6
        assert out["duration_ms"] == 1000

    def test_probe_media_dispatch(self):
        assert probe_media(_flac())["codec"] == "flac"


class TestAnimationInfo:
    def test_webp_animation_duration(self):
        from graphrag_mrkr_2_spark.functions.webpcodec import (
            encode_webp_lossless,
        )

        px = np.zeros((4, 4, 3), np.uint8)
        still = encode_webp_lossless(px)
        data = _mux_animation((4, 4), [(0, 0, 40, 0, still),
                                       (0, 0, 70, 0, still)])
        assert webp_animation_info(data) == (2, 110)
        assert webp_animation_info(still) is None
        out = probe_media(data)
        assert out["kind"] == "image" and out["duration_ms"] == 110

    def test_gif_animation_duration(self):
        from media_fixtures import encode_gif_frames

        data = encode_gif_frames(
            [np.zeros((3, 3, 3), np.uint8), np.full((3, 3, 3), 90, np.uint8)],
            delays_ms=[30, 50],
        )
        assert gif_animation_info(data) == (2, 80)
        out = probe_media(data)
        assert out["kind"] == "image" and out["duration_ms"] == 80

    def test_still_gif_no_animation(self):
        from graphrag_mrkr_2_spark.functions.imagecodecs import encode_gif

        assert gif_animation_info(encode_gif(np.zeros((3, 3, 3), np.uint8))) is None


class TestHardening:
    """Review r5 findings: header-derived numbers are corruption-controlled
    and must quarantine, never crash or fan out."""

    def test_mp4_unknown_duration_sentinel(self):
        # all-ones duration is the spec's "unknown" — must come back None,
        # not 4294967295 (which would overflow MEDIA_SCHEMA's int32)
        data = _mp4(duration=0xFFFFFFFF)
        assert probe_mp4(data)["duration_ms"] is None
        assert probe_media(data)["duration_ms"] is None

    @pytest.mark.spark
    def test_with_probed_media_survives_bogus_durations(self, spark):
        """The reviewer's repro: an int32-overflowing header duration must
        not ArrowInvalid-crash the whole scan."""
        from helpers import probed_media

        mvhd = _box(b"mvhd", b"\x00" + b"\x00" * 3 + b"\x00" * 8
                    + struct.pack(">II", 1, 0xFFFFFFF0) + b"\x00" * 80)
        bogus = _box(b"ftyp", b"isom") + _box(b"moov", mvhd)
        df = probed_media(spark, [("ok", _mp4()), ("bogus", bogus)])
        rows = {r.media_id: r for r in df.collect()}
        assert rows["ok"].meta["duration_ms"] == 12000
        assert rows["bogus"].meta["duration_ms"] is None  # clamped, not crashed
        assert rows["bogus"].kind == "video"

    @pytest.mark.spark
    def test_fake_frame_fallback_is_capped(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import sample_video_frames

        df = spark.createDataFrame(
            [("m1", "video", bytearray(b"not-a-container"),
              {"codec": "h264", "width": 2, "height": 2,
               "sample_rate": None, "channels": None,
               "duration_ms": 1_790_000_000})],
            "media_id string, kind string, payload binary, "
            "meta struct<codec:string,width:int,height:int,"
            "sample_rate:int,channels:int,duration_ms:int>")
        n = sample_video_frames(df, every_ms=1000).count()
        assert n == 3600  # capped, not 1.79 million rows

    def test_ogg_spurious_sync_in_payload_ignored(self):
        head = (b"OpusHead\x01" + bytes([2]) + struct.pack("<H", 0)
                + struct.pack("<I", 48000) + b"\x00\x00\x00")
        # final page whose PAYLOAD contains a fake 'OggS' with garbage after
        evil_payload = b"\x00" * 10 + b"OggS" + b"\xff" * 30
        data = _ogg_page(head, header_type=2) + _ogg_page(
            evil_payload, granule=48000, seq=1, header_type=4)
        out = probe_ogg(data)
        assert out["duration_ms"] == 1000  # real page granule, not the decoy

    def test_ogg_theora_is_video(self):
        data = _ogg_page(b"\x80theora" + b"\x00" * 30, header_type=2)
        out = probe_ogg(data)
        assert out["kind"] == "video" and out["codec"] == "theora"
        assert probe_media(data)["kind"] == "video"

    def test_single_frame_anmf_not_animated(self):
        from graphrag_mrkr_2_spark.functions.webpcodec import encode_webp_lossless

        still = encode_webp_lossless(np.zeros((4, 4, 3), np.uint8))
        data = _mux_animation((4, 4), [(0, 0, 40, 0, still)])
        assert webp_animation_info(data) is None  # matches GIF semantics

    def test_probe_media_sample_rate_channels_surface(self):
        out = probe_media(_flac(sample_rate=22050, channels=1, total=22050))
        assert out["sample_rate"] == 22050 and out["channels"] == 1


def _ebml_el(eid: int, payload: bytes) -> bytes:
    """Encode one EBML element (id already carries its marker bits; size
    as a minimal-length vint)."""
    id_bytes = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(payload)
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            break
    size = ((1 << (8 * length - length)) | n).to_bytes(length, "big")
    return id_bytes + size + payload


def _ebml_uintv(v: int, width: int = 0) -> bytes:
    b = v.to_bytes(max(1, width or (v.bit_length() + 7) // 8), "big")
    return b


def _webm(duration_ms=6500.0, codec=b"V_VP9", video=True, w=1280, h=720,
          rate=48000.0, ch=2) -> bytes:
    import struct as _s

    header = _ebml_el(0x1A45DFA3, _ebml_el(0x4282, b"webm"))
    info = _ebml_el(0x1549A966,
                    _ebml_el(0x2AD7B1, _ebml_uintv(1_000_000))
                    + _ebml_el(0x4489, _s.pack(">d", duration_ms)))
    if video:
        media = _ebml_el(0xE0, _ebml_el(0xB0, _ebml_uintv(w))
                         + _ebml_el(0xBA, _ebml_uintv(h)))
        ttype = 1
    else:
        media = _ebml_el(0xE1, _ebml_el(0xB5, _s.pack(">f", rate))
                         + _ebml_el(0x9F, _ebml_uintv(ch)))
        ttype = 2
    entry = _ebml_el(0xAE, _ebml_el(0x83, _ebml_uintv(ttype))
                     + _ebml_el(0x86, codec) + media)
    tracks = _ebml_el(0x1654AE6B, entry)
    segment = _ebml_el(0x18538067, info + tracks)
    return header + segment


class TestMkv:
    def test_webm_video(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mkv, sniff_mkv

        data = _webm()
        assert sniff_mkv(data)
        out = probe_mkv(data)
        assert out["kind"] == "video" and out["codec"] == "vp9"
        assert (out["width"], out["height"]) == (1280, 720)
        assert out["duration_ms"] == 6500

    def test_webm_audio_only(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mkv

        out = probe_mkv(_webm(codec=b"A_OPUS", video=False, rate=48000.0, ch=2))
        assert out["kind"] == "audio" and out["codec"] == "opus"
        assert out["sample_rate"] == 48000 and out["channels"] == 2

    def test_custom_timescale(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mkv
        import struct as _s

        # timescale 500000 ns/tick, duration 8000 ticks -> 4000 ms
        info = _ebml_el(0x1549A966,
                        _ebml_el(0x2AD7B1, _ebml_uintv(500_000))
                        + _ebml_el(0x4489, _s.pack(">f", 8000.0)))
        data = (_ebml_el(0x1A45DFA3, b"") + _ebml_el(0x18538067, info))
        assert probe_mkv(data)["duration_ms"] == 4000

    def test_truncated_rejected(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mkv

        data = _webm()
        with pytest.raises(ValueError):
            probe_mkv(data[:len(data) // 2])

    def test_probe_media_dispatch_and_quarantine(self):
        out = probe_media(_webm())
        assert out["kind"] == "video" and out["codec"] == "vp9"
        broken = probe_media(_webm()[: len(_webm()) // 2])
        assert broken["kind"] == "video" and broken["codec"] is None


class TestMkvHardening:
    """Review r5 round-2 findings: streamed/edge-case EBML structures."""

    def test_unknown_size_segment(self):
        """Chrome MediaRecorder-style streaming: Segment written with the
        all-ones 'unknown size' vint must still yield metadata."""
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mkv
        import struct as _s

        header = _ebml_el(0x1A45DFA3, _ebml_el(0x4282, b"webm"))
        info = _ebml_el(0x1549A966,
                        _ebml_el(0x2AD7B1, _ebml_uintv(1_000_000))
                        + _ebml_el(0x4489, _s.pack(">d", 2500.0)))
        seg_id = (0x18538067).to_bytes(4, "big")
        segment = seg_id + b"\xff" + info  # 1-byte unknown-size vint
        out = probe_mkv(header + segment)
        assert out["duration_ms"] == 2500

    def test_zero_length_duration_is_default(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mkv

        info = _ebml_el(0x1549A966, _ebml_el(0x4489, b""))
        data = _ebml_el(0x1A45DFA3, b"") + _ebml_el(0x18538067, info)
        assert probe_mkv(data)["duration_ms"] == 0

    def test_audio_track_first_does_not_leak_into_video(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mkv
        import struct as _s

        audio = _ebml_el(0xAE, _ebml_el(0x83, _ebml_uintv(2))
                         + _ebml_el(0x86, b"A_OPUS")
                         + _ebml_el(0xE1, _ebml_el(0xB5, _s.pack(">f", 48000.0))
                                    + _ebml_el(0x9F, _ebml_uintv(2))))
        video = _ebml_el(0xAE, _ebml_el(0x83, _ebml_uintv(1))
                         + _ebml_el(0x86, b"V_VP8")
                         + _ebml_el(0xE0, _ebml_el(0xB0, _ebml_uintv(320))
                                    + _ebml_el(0xBA, _ebml_uintv(240))))
        tracks = _ebml_el(0x1654AE6B, audio + video)
        data = _ebml_el(0x1A45DFA3, b"") + _ebml_el(0x18538067, tracks)
        out = probe_mkv(data)
        assert out["kind"] == "video" and out["codec"] == "vp8"
        assert (out["width"], out["height"]) == (320, 240)
        assert out["sample_rate"] is None and out["channels"] is None


# ---------------------------------------------------------------------------
# AVIF / HEIC (ISO 23008-12 item-property boxes; VERDICT r5 #6)
# ---------------------------------------------------------------------------


def _fullbox(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(fourcc, bytes([version]) + flags.to_bytes(3, "big") + payload)


def _heif(major=b"avif", compat=(b"avif", b"mif1", b"miaf"), width=320,
          height=200, codec_prop=b"av1C", alpha_first=True, with_ipma=True,
          primary=1, moov_duration=None, ipma_flags=0) -> bytes:
    """Minimal HEIF per ISO 23008-12: ftyp + meta(pitm + iprp(ipco+ipma)).

    With alpha_first=True the ipco leads with the ALPHA item's 64x64 ispe —
    the real-encoder layout that makes first-ispe heuristics report the
    alpha plane's dims; only the pitm→ipma walk finds the primary item's."""
    ftyp = _box(b"ftyp", major + b"\x00\x00\x00\x00" + b"".join(compat))
    props = []
    if alpha_first:
        props.append(_fullbox(b"ispe", 0, 0, struct.pack(">II", 64, 64)))
    if codec_prop is not None:
        props.append(_box(codec_prop, b"\x81\x04\x0c\x00"))
    props.append(_fullbox(b"ispe", 0, 0, struct.pack(">II", width, height)))
    ipco = _box(b"ipco", b"".join(props))
    n = len(props)
    ispe_idx = n  # the primary item's ispe is the last property
    codec_idx = n - 1 if codec_prop is not None else 0
    if ipma_flags & 1:
        assoc = struct.pack(">HB", primary, 2 if codec_idx else 1)
        assoc += struct.pack(">H", ispe_idx)
        if codec_idx:
            assoc += struct.pack(">H", 0x8000 | codec_idx)  # essential
    else:
        assoc = struct.pack(">HB", primary, 2 if codec_idx else 1)
        assoc += bytes([ispe_idx])
        if codec_idx:
            assoc += bytes([0x80 | codec_idx])  # essential bit
    ipma = (_fullbox(b"ipma", 0, ipma_flags, struct.pack(">I", 1) + assoc)
            if with_ipma else b"")
    iprp = _box(b"iprp", ipco + ipma)
    pitm = _fullbox(b"pitm", 0, 0, struct.pack(">H", primary))
    meta = _fullbox(b"meta", 0, 0, pitm + iprp)
    out = ftyp + meta
    if moov_duration is not None:
        mvhd = _fullbox(b"mvhd", 0, 0, b"\x00" * 8
                        + struct.pack(">II", 1000, moov_duration)
                        + b"\x00" * 80)
        out += _box(b"moov", mvhd)
    return out + _box(b"mdat", b"\x00" * 8)


class TestHeif:
    def test_sniff(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import sniff_heif

        assert sniff_heif(_heif())
        assert sniff_heif(_heif(major=b"heic", codec_prop=b"hvcC"))
        # generic mif1 major, avif only in compatible brands
        assert sniff_heif(_heif(major=b"mif1", compat=(b"avif", b"miaf")))
        assert not sniff_heif(_mp4())  # plain video MP4 is not HEIF
        assert sniff_mp4(_heif())  # ...but HEIF sniffs as MP4: order matters

    def test_primary_item_dims_not_alpha(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_heif

        out = probe_heif(_heif(width=320, height=200, alpha_first=True))
        assert out == {"kind": "image", "codec": "av1", "width": 320,
                       "height": 200, "duration_ms": None}

    def test_heic_codec(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_heif

        out = probe_heif(_heif(major=b"heic", compat=(b"mif1",),
                               codec_prop=b"hvcC", width=4032, height=3024))
        assert out["codec"] == "hevc"
        assert (out["width"], out["height"]) == (4032, 3024)

    def test_codec_falls_back_to_brand(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_heif

        out = probe_heif(_heif(codec_prop=None))
        assert out["codec"] == "av1"

    def test_no_ipma_falls_back_to_first_ispe(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_heif

        out = probe_heif(_heif(with_ipma=False))
        assert (out["width"], out["height"]) == (64, 64)  # documented fallback

    def test_wide_property_indices(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_heif

        out = probe_heif(_heif(ipma_flags=1, width=777, height=555))
        assert (out["width"], out["height"]) == (777, 555)

    @pytest.mark.parametrize("cut", [1, 2, 4])
    def test_truncated_ipma_raises_valueerror(self, cut):
        # truncation mid-entry / mid-association must raise the module's
        # documented ValueError, not IndexError/struct.error (ADVICE r6)
        from graphrag_mrkr_2_spark.functions.mediaprobe import (
            _find_box,
            _ipma_property_indices,
        )

        blob = bytearray(_heif(ipma_flags=1))
        idx = bytes(blob).find(b"ipma")
        # shrink the ipma box size so its payload ends mid-association,
        # keeping the meta/iprp parents' extents intact around it
        old = struct.unpack_from(">I", blob, idx - 4)[0]
        struct.pack_into(">I", blob, idx - 4, old - cut)
        data = bytes(blob)
        ms = data.find(b"meta") - 4
        with pytest.raises(ValueError):
            _ipma_property_indices(data, ms + 12, ms + struct.unpack_from(
                ">I", data, ms)[0], 1)
        # the probe-level caller quarantines to the ipco-order fallback
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_heif

        out = probe_heif(data)
        assert out["kind"] == "image"

    def test_animated_avif_duration(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_heif

        out = probe_heif(_heif(major=b"avis", moov_duration=2500))
        assert out["kind"] == "image" and out["duration_ms"] == 2500

    def test_malformed_ipma_quarantines_to_fallback(self):
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_heif

        data = bytearray(_heif())
        at = bytes(data).index(b"ipma") - 4
        # truncate the ipma payload mid-entry: size says 9 bytes of payload
        data[at:at + 4] = struct.pack(">I", 8 + 9)
        out = probe_heif(bytes(data))
        assert out["kind"] == "image"  # no crash; dims from fallback or None

    def test_truncated_mdat_keeps_meta_dims(self):
        # bounded-prefix read: the trailing mdat overruns, but dims/codec
        # already parsed from meta must survive (review r6 finding #2)
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_heif

        data = _heif(width=320, height=200)
        out = probe_heif(data[:-8])  # cut into the mdat box
        assert (out["width"], out["height"]) == (320, 200)
        assert out["codec"] == "av1"

    def test_malformed_ftyp_size_is_not_heif(self):
        # adversarial: ftyp size < 16 must not scan the payload body for
        # brand bytes (review r6 finding #4)
        from graphrag_mrkr_2_spark.functions.mediaprobe import sniff_heif

        data = bytearray(_mp4())
        data[0:4] = struct.pack(">I", 12)  # corrupt the ftyp size
        evil = bytes(data) + b"avif" * 4  # brand bytes in the body
        assert not sniff_heif(evil)
        from graphrag_mrkr_2_spark.functions.imagecodecs import sniff_image

        assert sniff_image(evil) is None

    def test_probe_media_dispatch(self):
        out = probe_media(_heif(width=320, height=200))
        assert out["kind"] == "image" and out["codec"] == "av1"
        assert (out["width"], out["height"]) == (320, 200)
        # and plain MP4 still routes to video after the HEIF carve-out
        assert probe_media(_mp4())["kind"] == "video"

    def test_probe_media_heic(self):
        out = probe_media(_heif(major=b"heic", codec_prop=b"hvcC"))
        assert out["kind"] == "image" and out["codec"] == "hevc"

    def test_sniff_image_classifies_heif(self):
        from graphrag_mrkr_2_spark.functions.imagecodecs import (
            decode_image,
            sniff_image,
        )

        assert sniff_image(_heif()) == "avif"
        assert sniff_image(_heif(major=b"heic", codec_prop=b"hvcC")) == "heic"
        assert sniff_image(_heif(major=b"mif1", compat=(b"heic",))) == "heic"
        assert sniff_image(_mp4()) is None
        with pytest.raises(ValueError, match="decoder seam"):
            decode_image(_heif())
