"""Multimodal plumbing: schema, batch shape, determinism, strict stubs."""

import pytest

from graphrag_mrkr_2_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    image_features,
    sample_video_frames,
)
from helpers import image_features_binned, probed_media


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        ("m1", "image", b"img-bytes-1", {"codec": "png", "width": 32, "height": 16, "duration_ms": None}),
        ("m2", "image", b"img-bytes-2", {"codec": "jpg", "width": 8, "height": 8, "duration_ms": None}),
        ("m3", "video", b"vid-bytes-1", {"codec": "h264", "width": 64, "height": 32, "duration_ms": 3500}),
        ("m4", "audio", b"aud-bytes-1", {"codec": "opus", "width": None, "height": None, "duration_ms": 9000}),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


@pytest.mark.spark
def test_image_features_shape_and_determinism(media_df):
    f1 = {r["media_id"]: r["feature"] for r in image_features(media_df).collect()}
    f2 = {r["media_id"]: r["feature"] for r in image_features(media_df).collect()}
    assert set(f1) == {"m1", "m2"}  # only images
    assert all(len(v) == 16 for v in f1.values())
    assert f1 == f2  # deterministic fake decode
    assert abs(sum(f1["m1"]) - 1.0) < 1e-5  # normalized histogram


@pytest.mark.spark
def test_video_frame_sampling(media_df):
    frames = sample_video_frames(media_df, every_ms=1000).collect()
    assert {r["media_id"] for r in frames} == {"m3"}
    assert len(frames) == 3  # 3500ms // 1000ms
    assert [r["frame_index"] for r in sorted(frames, key=lambda r: r["frame_index"])] == [0, 1, 2]
    assert all(isinstance(r["frame"], (bytes, bytearray)) for r in frames)


@pytest.mark.spark
def test_strict_mode_raises(media_df):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError)):
        image_features(media_df, strict=True).collect()


class TestProbeMedia:
    def test_probe_all_containers(self):
        """probe_media must read real dims/duration from every pure-stdlib
        container's headers (no full decode)."""
        import numpy as np

        from graphrag_mrkr_2_spark.functions.audiocodecs import encode_wav
        from media_fixtures import encode_avi_mjpeg
        from graphrag_mrkr_2_spark.functions.imagecodecs import (
            encode_bmp,
            encode_gif,
            encode_png,
        )
        from graphrag_mrkr_2_spark.functions.jpegcodec import encode_jpeg
        from media_fixtures import encode_tiff
        from graphrag_mrkr_2_spark.operators.multimodal import probe_media

        px = np.zeros((12, 34, 3), dtype=np.uint8)
        for codec, data in [
            ("png", encode_png(px)), ("bmp", encode_bmp(px)), ("gif", encode_gif(px)),
            ("jpeg", encode_jpeg(px)), ("tiff", encode_tiff(px)),
        ]:
            p = probe_media(data)
            assert (p["kind"], p["codec"]) == ("image", codec)
            assert (p["width"], p["height"]) == (34, 12), codec
        wav = probe_media(encode_wav(np.zeros(16000, dtype=np.int16), 8000))
        assert (wav["kind"], wav["codec"], wav["duration_ms"]) == ("audio", "wav", 2000)
        avi = probe_media(encode_avi_mjpeg([encode_jpeg(px)] * 10, 34, 12, fps=5))
        assert (avi["kind"], avi["codec"], avi["duration_ms"]) == ("video", "mjpg", 2000)
        assert (avi["width"], avi["height"]) == (34, 12)
        assert probe_media(b"garbage")["kind"] is None
        assert probe_media(b"")["kind"] is None

    @pytest.mark.spark
    def test_with_probed_media_end_to_end(self, spark):
        """Raw (id, payload) rows -> probed MEDIA_SCHEMA -> the image feature
        operator consumes its own rows, unknown rows quarantine."""
        import numpy as np

        from graphrag_mrkr_2_spark.functions.audiocodecs import encode_wav
        from graphrag_mrkr_2_spark.functions.imagecodecs import encode_png

        rows = [
            ("img", encode_png(np.full((8, 8, 3), 255, dtype=np.uint8))),
            ("aud", encode_wav(np.zeros(800, dtype=np.int16), 8000)),
            ("bad", b"not media"),
        ]
        media = probed_media(spark, rows)
        kinds = {r["media_id"]: r["kind"] for r in media.collect()}
        assert kinds == {"img": "image", "aud": "audio", "bad": "unknown"}
        metas = {r["media_id"]: r["meta"] for r in media.collect()}
        assert metas["img"]["width"] == 8 and metas["img"]["codec"] == "png"
        assert metas["aud"]["duration_ms"] == 100
        feats = image_features_binned(media, 4, strict=True).collect()
        assert len(feats) == 1 and feats[0]["feature"][-1] == pytest.approx(1.0)


class TestProbeJpegFillBytes:
    def test_fill_bytes_before_sof_marker(self):
        """Legal 0xFF padding before a marker (B.1.1.2) must not derail the
        header-only dimension scan (ADVICE r4)."""
        import numpy as np

        from graphrag_mrkr_2_spark.functions.jpegcodec import encode_jpeg
        from graphrag_mrkr_2_spark.operators.multimodal import probe_media

        px = np.zeros((12, 34, 3), dtype=np.uint8)
        data = encode_jpeg(px)
        i = data.index(b"\xff\xdb")
        spliced = data[:i] + b"\xff\xff\xff" + data[i:]
        p = probe_media(spliced)
        assert (p["kind"], p["codec"]) == ("image", "jpeg")
        assert (p["width"], p["height"]) == (34, 12)
