"""MJPEG-AVI container codec + the real video-frame sampling chain."""

import struct

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions.avicodec import extract_frames, parse_avi, sniff_video
from media_fixtures import encode_avi_mjpeg
from graphrag_mrkr_2_spark.functions.jpegcodec import decode_jpeg, encode_jpeg
from helpers import encode_jpeg_at, image_features_binned


def _mjpeg_avi(n_frames=10, fps=5, size=16):
    frames = [
        encode_jpeg_at(np.full((size, size, 3), (17 * i) % 250, dtype=np.uint8), quality=95)
        for i in range(n_frames)
    ]
    return frames, encode_avi_mjpeg(frames, size, size, fps)


class TestContainer:
    def test_parse_header_and_frames(self):
        frames, avi = _mjpeg_avi()
        info = parse_avi(avi)
        assert info["codec"] == "MJPG"
        assert info["fps"] == pytest.approx(5.0)
        assert (info["width"], info["height"]) == (16, 16)
        assert info["frames"] == frames

    def test_odd_sized_frame_padding(self):
        """RIFF chunks are word-aligned; odd-length JPEG payloads must not
        shift subsequent chunk parsing."""
        frames, _ = _mjpeg_avi(3)
        odd = frames[1] + b"\x00" if len(frames[1]) % 2 == 0 else frames[1]
        # force one odd frame in the middle
        f2 = [frames[0], odd[:-1] if len(odd) % 2 == 0 else odd, frames[2]]
        avi = encode_avi_mjpeg(f2, 16, 16, fps=5)
        assert parse_avi(avi)["frames"] == f2

    def test_sampling_by_container_fps(self):
        _, avi = _mjpeg_avi(n_frames=10, fps=5)
        assert [i for i, _ in extract_frames(avi, every_ms=1000)] == [0, 5]
        assert [i for i, _ in extract_frames(avi, every_ms=200)] == list(range(10))
        assert [i for i, _ in extract_frames(avi, every_ms=10_000)] == [0]

    def test_sampled_frames_decode(self):
        _, avi = _mjpeg_avi(n_frames=6, fps=2)
        for i, jpeg in extract_frames(avi, every_ms=1000):
            px = decode_jpeg(jpeg)
            assert px.shape == (16, 16, 3)
            assert int(np.abs(px.astype(int) - (17 * i) % 250).max()) <= 1

    def test_non_mjpeg_codec_rejected(self):
        _, avi = _mjpeg_avi(2)
        bad = avi.replace(b"vidsMJPG", b"vidsH264")
        with pytest.raises(ValueError, match="MJPEG"):
            extract_frames(bad)

    def test_sniff_and_garbage(self):
        _, avi = _mjpeg_avi(1)
        assert sniff_video(avi) == "avi"
        assert sniff_video(b"RIFFxxxxWAVE") is None
        with pytest.raises(ValueError, match="AVI"):
            parse_avi(b"not an avi")


class TestMjpegNoDhtQuirk:
    def test_frame_without_dht_uses_standard_tables(self):
        """The classic MJPEG quirk: frames written without DHT segments must
        decode via the Annex-K defaults."""
        jpeg = encode_jpeg_at(np.full((16, 16, 3), 60, dtype=np.uint8), quality=95)
        out = bytearray()
        i = 0
        while i < len(jpeg):
            if jpeg[i] == 0xFF and i + 1 < len(jpeg) and jpeg[i + 1] == 0xC4:
                (ln,) = struct.unpack(">H", jpeg[i + 2 : i + 4])
                i += 2 + ln
                continue
            out.append(jpeg[i])
            i += 1
        px = decode_jpeg(bytes(out))
        assert int(np.abs(px.astype(int) - 60).max()) <= 1


@pytest.mark.spark
class TestSparkWiring:
    def _media(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "media_id string, kind string, payload binary, "
            "meta struct<codec:string,width:int,height:int,duration_ms:int>",
        )

    def test_sample_video_frames_real_avi(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import sample_video_frames

        _, avi = _mjpeg_avi(n_frames=10, fps=5)
        media = self._media(
            spark, [("v", "video", bytearray(avi), ("mjpeg", 16, 16, 2000))]
        )
        frames = sample_video_frames(media, every_ms=1000, strict=True).collect()
        assert [r["frame_index"] for r in frames] == [0, 5]
        # the emitted frames are real JPEGs -> feed them straight into the
        # image layer (video -> pixels with zero native libs)
        fmedia = self._media(
            spark,
            [
                (f"v/{r['frame_index']}", "image", bytearray(r["frame"]), ("jpeg", 16, 16, None))
                for r in frames
            ],
        )
        feats = image_features_binned(fmedia, 4, strict=True, decoder=False).collect()
        assert len(feats) == 2

    def test_strict_raises_for_h264(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import sample_video_frames

        media = self._media(
            spark, [("v", "video", bytearray(b"\x00\x00\x00\x01h264"), ("h264", 0, 0, 3000))]
        )
        with pytest.raises(Exception, match="NotImplementedError|codec"):
            sample_video_frames(media, strict=True).collect()

    def test_fake_fallback_still_works(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import sample_video_frames

        media = self._media(
            spark, [("v", "video", bytearray(b"opaque"), ("h264", 0, 0, 3000))]
        )
        frames = sample_video_frames(media, every_ms=1000).collect()
        assert [r["frame_index"] for r in frames] == [0, 1, 2]


@pytest.mark.spark
class TestAnimatedGifSampling:
    def test_gif_frames_sampled_and_decodable(self, spark):
        """Animated GIF video payloads sample by their own frame delays and
        emit PNG frames the image layer decodes (real gif -> pixels)."""
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_png
        from media_fixtures import encode_gif_frames
        from graphrag_mrkr_2_spark.operators.multimodal import sample_video_frames

        frames = [np.full((6, 7, 3), 30 * i, dtype=np.uint8) for i in range(6)]
        gif = encode_gif_frames(frames, delays_ms=[500] * 6)  # 3s at 2 fps
        media = spark.createDataFrame(
            [("g", "video", bytearray(gif), ("gif", 7, 6, 3000))],
            "media_id string, kind string, payload binary, "
            "meta struct<codec:string,width:int,height:int,duration_ms:int>",
        )
        got = sample_video_frames(media, every_ms=1000, strict=True).collect()
        assert [r["frame_index"] for r in got] == [0, 2, 4]
        for r in got:
            px = decode_png(bytes(r["frame"]))
            assert (px == 30 * r["frame_index"]).all()

    def test_long_frame_does_not_bank_sampling_credit(self, spark):
        """A 5 s frame followed by a 40 ms burst must yield the long frame
        plus ONE burst frame, not the whole burst (review r4 pass-4
        finding #2: the sampling clock catches up past cum)."""
        from media_fixtures import encode_gif_frames
        from graphrag_mrkr_2_spark.operators.multimodal import sample_video_frames

        frames = [np.full((4, 4, 3), 20 * i, dtype=np.uint8) for i in range(6)]
        gif = encode_gif_frames(frames, delays_ms=[5000, 10, 10, 10, 10, 10])
        media = spark.createDataFrame(
            [("g", "video", bytearray(gif), ("gif", 4, 4, 5050))],
            "media_id string, kind string, payload binary, "
            "meta struct<codec:string,width:int,height:int,duration_ms:int>",
        )
        got = sample_video_frames(media, every_ms=1000, strict=True).collect()
        assert [r["frame_index"] for r in got] == [0, 1]


class TestMultiStream:
    """Frame chunks must come from the vids stream only (ADVICE r4)."""

    @staticmethod
    def _two_stream_avi(vids_first: bool):
        """Build an AVI with an auds stream and a vids stream; foreign
        frame-shaped chunks carry the OTHER stream's prefix."""
        from media_fixtures import _chunk, _list

        frames = [
            encode_jpeg(np.full((16, 16, 3), 40 * i + 10, dtype=np.uint8))
            for i in range(3)
        ]
        avih = struct.pack(
            "<IIIIIIIIIIIIII",
            200_000, 0, 0, 0x10, len(frames), 0, 2, 0, 16, 16, 0, 0, 0, 0,
        )
        strh_v = struct.pack(
            "<4s4sIHHIIIIIIIIhhhh",
            b"vids", b"MJPG", 0, 0, 0, 0, 1, 5, 0, len(frames),
            0, 0xFFFFFFFF, 0, 0, 0, 16, 16,
        )
        strh_a = struct.pack(
            "<4s4sIHHIIIIIIIIhhhh",
            b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0, 1, 8000, 0, 100,
            0, 0xFFFFFFFF, 0, 0, 0, 0, 0,
        )
        strf = struct.pack(
            "<IiiHHIIiiII", 40, 16, 16, 1, 24, 0x47504A4D, 16 * 16 * 3, 0, 0, 0, 0
        )
        strl_v = _list(b"strl", _chunk(b"strh", strh_v) + _chunk(b"strf", strf))
        strl_a = _list(b"strl", _chunk(b"strh", strh_a) + _chunk(b"strf", strf))
        order = (strl_v + strl_a) if vids_first else (strl_a + strl_v)
        hdrl = _list(b"hdrl", _chunk(b"avih", avih) + order)
        vid_pfx = b"00dc" if vids_first else b"01dc"
        foreign_pfx = b"01dc" if vids_first else b"00dc"
        movi_parts = []
        for f in frames:
            movi_parts.append(_chunk(vid_pfx, f))
            movi_parts.append(_chunk(foreign_pfx, b"\xde\xad\xbe\xef"))
        movi = _list(b"movi", b"".join(movi_parts))
        body = b"AVI " + hdrl + movi
        return frames, b"RIFF" + struct.pack("<I", len(body)) + body

    def test_foreign_stream_chunks_excluded(self):
        frames, avi = self._two_stream_avi(vids_first=True)
        info = parse_avi(avi)
        assert info["codec"] == "MJPG"
        assert info["frames"] == frames

    def test_vids_not_stream_zero(self):
        frames, avi = self._two_stream_avi(vids_first=False)
        info = parse_avi(avi)
        assert info["codec"] == "MJPG"
        assert info["frames"] == frames
