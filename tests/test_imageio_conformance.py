"""Conformance A/B against the JVM's javax.imageio — REAL independent
PNG/JPEG/BMP/GIF codecs that ship inside the JDK Spark already runs on
(the same move as the libtiff ctypes A/B: round-trip tests only prove
self-consistency; an independent implementation proves the wire format).

Both directions per format:
  - our encoder's bytes must decode identically in ImageIO;
  - ImageIO-written files must decode identically in our decoders
    (JPEG: within the codec's documented lossy bound).
"""

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions.imagecodecs import (
    decode_bmp,
    decode_gif,
    decode_png,
    encode_bmp,
    encode_gif,
    encode_png,
)
from graphrag_mrkr_2_spark.functions.jpegcodec import decode_jpeg
from helpers import encode_jpeg_at, image_features_binned


def _imageio_read(spark, data: bytes) -> np.ndarray:
    """ImageIO.read -> (h, w, 3) uint8 RGB."""
    jvm = spark._jvm
    img = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(bytearray(data))
    )
    assert img is not None, "ImageIO could not parse the payload"
    w, h = img.getWidth(), img.getHeight()
    argb = list(img.getRGB(0, 0, w, h, None, 0, w))
    arr = np.asarray(argb, dtype=np.int64).reshape(h, w)
    out = np.zeros((h, w, 3), dtype=np.uint8)
    out[:, :, 0] = (arr >> 16) & 0xFF
    out[:, :, 1] = (arr >> 8) & 0xFF
    out[:, :, 2] = arr & 0xFF
    return out


def _imageio_write(spark, px: np.ndarray, fmt: str, gray: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB -> ImageIO-encoded bytes."""
    jvm = spark._jvm
    baos = jvm.java.io.ByteArrayOutputStream()
    ok = jvm.javax.imageio.ImageIO.write(_java_image(spark, px, gray), fmt, baos)
    assert ok, f"ImageIO has no writer for {fmt}"
    return bytes(baos.toByteArray())


def _java_image(spark, px: np.ndarray, gray: bool = False):
    """(h, w, 3) uint8 RGB -> BufferedImage (TYPE_BYTE_GRAY when gray)."""
    jvm = spark._jvm
    gateway = spark.sparkContext._gateway
    h, w, _ = px.shape
    itype = (
        jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        if gray
        else jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    img = jvm.java.awt.image.BufferedImage(w, h, itype)
    flat = (
        (px[:, :, 0].astype(np.int64) << 16)
        | (px[:, :, 1].astype(np.int64) << 8)
        | px[:, :, 2].astype(np.int64)
    ).reshape(-1)
    jarr = gateway.new_array(jvm.int, len(flat))
    for i, v in enumerate(flat):
        jarr[i] = int(v)
    img.setRGB(0, 0, w, h, jarr, 0, w)
    return img


def _imageio_write_progressive_jpeg(
    spark, px: np.ndarray, gray: bool = False
) -> bytes:
    """(h, w, 3) uint8 RGB -> progressive (SOF2) JPEG via the JDK writer
    (JPEGImageWriteParam MODE_DEFAULT emits libjpeg's standard
    progression script: DC first+refine, AC spectral bands + successive
    approximation — every Annex-G decode path)."""
    jvm = spark._jvm
    img = _java_image(spark, px, gray)
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(img, None, None), param)
    ios.flush()
    writer.dispose()
    data = bytes(baos.toByteArray())
    sof2, sos = data.find(b"\xff\xc2"), data.find(b"\xff\xda")
    assert sof2 != -1 and sof2 < sos, "JDK did not emit a progressive frame"
    return data


@pytest.fixture(scope="module")
def rgb():
    rng = np.random.RandomState(17)
    return rng.randint(0, 256, size=(10, 13, 3), dtype=np.uint8)


@pytest.mark.spark
class TestOursToImageIO:
    @pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
    def test_png_every_filter(self, spark, rgb, ftype):
        got = _imageio_read(spark, encode_png(rgb, filter_type=ftype))
        assert (got == rgb).all(), f"filter {ftype}"

    def test_bmp(self, spark, rgb):
        assert (_imageio_read(spark, encode_bmp(rgb)) == rgb).all()

    def test_gif(self, spark):
        rng = np.random.RandomState(4)
        pal = rng.randint(0, 256, size=(64, 3), dtype=np.uint8)
        px = pal[rng.randint(0, 64, size=(9, 12))]
        assert (_imageio_read(spark, encode_gif(px)) == px).all()

    def test_gif_12bit_dictionary(self, spark):
        """Large-image LZW (width growth + table churn) must also be
        readable by the independent decoder, not just our own."""
        rng = np.random.RandomState(9)
        pal = rng.randint(0, 256, size=(256, 3), dtype=np.uint8)
        px = pal[rng.randint(0, 256, size=(80, 90))]
        assert (_imageio_read(spark, encode_gif(px)) == px).all()

    @pytest.mark.parametrize("subsampling", ["444", "420"])
    def test_jpeg(self, spark, subsampling):
        yy, xx = np.mgrid[0:24, 0:32]
        px = np.stack([40 + yy * 2, 60 + xx, 50 + yy + xx], axis=2).astype(np.uint8)
        data = encode_jpeg_at(px, quality=95, subsampling=subsampling)
        got = _imageio_read(spark, data)
        err = np.abs(got.astype(int) - px.astype(int))
        assert err.max() <= 8, (subsampling, int(err.max()))  # encoder loss
        # decoder identity: the JDK's decode of OUR stream must be
        # bit-identical to our own (islow IDCT + fancy upsample + fixed-
        # point color tables == the IJG pipeline)
        assert (decode_jpeg(data) == got).all()


@pytest.mark.spark
class TestImageIOToOurs:
    def test_png(self, spark, rgb):
        assert (decode_png(_imageio_write(spark, rgb, "png")) == rgb).all()

    def test_bmp(self, spark, rgb):
        assert (decode_bmp(_imageio_write(spark, rgb, "bmp")) == rgb).all()

    def test_gif(self, spark):
        # limited palette so the JDK GIF writer needs no quantization
        px = np.zeros((8, 9, 3), dtype=np.uint8)
        px[2:5, 3:7] = [255, 0, 0]
        px[6:, :4] = [0, 0, 255]
        assert (decode_gif(_imageio_write(spark, px, "gif")) == px).all()

    def test_jpeg(self, spark):
        yy, xx = np.mgrid[0:24, 0:32]
        px = np.stack([40 + yy * 2, 60 + xx, 50 + yy + xx], axis=2).astype(np.uint8)
        data = _imageio_write(spark, px, "jpg")
        got = decode_jpeg(data)
        err = np.abs(got.astype(int) - px.astype(int))
        assert err.max() <= 12, int(err.max())  # the JDK writer's loss
        # decoder identity: bit-identical to the JDK's own decode
        assert (got == _imageio_read(spark, data)).all()

    def test_progressive_jpeg_smooth(self, spark):
        """JDK-written SOF2 stream. Two oracles: (1) the JDK writer
        encodes the SAME quantized coefficients in baseline and
        progressive mode, so our Annex-G decode of the progressive file
        must be BIT-IDENTICAL to our baseline decode of the baseline
        file; (2) our decode must be BIT-IDENTICAL to the JDK's own
        decode of the progressive file (shared IJG reconstruction)."""
        yy, xx = np.mgrid[0:40, 0:56]
        px = np.stack([40 + yy * 2, 60 + xx, 50 + yy + xx], axis=2).astype(np.uint8)
        data = _imageio_write_progressive_jpeg(spark, px)
        ours = decode_jpeg(data)
        base = decode_jpeg(_imageio_write(spark, px, "jpg"))
        assert (ours == base).all()
        theirs = _imageio_read(spark, data)
        assert (ours == theirs).all()
        assert np.abs(ours.astype(int) - px.astype(int)).max() <= 12

    def test_progressive_jpeg_noise(self, spark):
        """Dense random content exercises ZRL, EOB-run lengths > 1, and
        the refinement correction-bit sweeps; same bit-identity oracles —
        exact even on noise now that upsampling/IDCT match the IJG
        pipeline bit-for-bit."""
        rng = np.random.RandomState(23)
        px = rng.randint(0, 256, size=(33, 47, 3), dtype=np.uint8)
        data = _imageio_write_progressive_jpeg(spark, px)
        ours = decode_jpeg(data)
        base = decode_jpeg(_imageio_write(spark, px, "jpg"))
        assert (ours == base).all()
        assert (ours == _imageio_read(spark, data)).all()

    def test_progressive_jpeg_grayscale(self, spark):
        """Single-component progressive: the DC scan is NON-interleaved
        (block grid = the component's own ceil dims, not MCU-padded) —
        a path the 3-component tests never reach."""
        yy, xx = np.mgrid[0:21, 0:29]
        g = ((yy * 5 + xx * 3) % 256).astype(np.uint8)
        px = np.stack([g, g, g], axis=2)
        data = _imageio_write_progressive_jpeg(spark, px, gray=True)
        ours = decode_jpeg(data)
        assert ours.shape == (21, 29, 1)
        # baseline encode of the same grayscale image → same coefficients
        base = decode_jpeg(_imageio_write(spark, px, "jpg", gray=True))
        assert (ours == base).all()

    def test_progressive_jpeg_through_image_features(self, spark):
        """Operator-level wiring: a progressive JPEG must flow through
        probe_media → image_features in STRICT mode (real decode, no
        quarantine fallback) with correct probed dimensions."""
        from helpers import probed_media

        yy, xx = np.mgrid[0:24, 0:32]
        px = np.stack([40 + yy * 2, 60 + xx, 50 + yy + xx], axis=2).astype(np.uint8)
        data = _imageio_write_progressive_jpeg(spark, px)
        media = probed_media(spark, [("prog", data)])
        meta = media.collect()[0]["meta"]
        assert meta["codec"] == "jpeg" and meta["width"] == 32 and meta["height"] == 24
        feats = image_features_binned(media, 8, strict=True, decoder=False).collect()
        assert len(feats) == 1
        hist = np.array(feats[0]["feature"])
        assert hist.sum() == pytest.approx(1.0) and (hist >= 0).all()


@pytest.mark.spark
class TestJavaxSoundWav:
    """Same independent-oracle move for WAV: javax.sound.sampled is the
    JDK's real RIFF/WAVE reader."""

    def test_our_wav_parsed_by_javax_sound(self, spark):
        from graphrag_mrkr_2_spark.functions.audiocodecs import encode_wav

        rng = np.random.RandomState(3)
        samples = rng.randint(-32768, 32768, size=(500, 2)).astype(np.int16)
        data = encode_wav(samples, 22050)
        jvm = spark._jvm
        ais = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
            jvm.java.io.ByteArrayInputStream(bytearray(data))
        )
        fmt = ais.getFormat()
        assert int(fmt.getSampleRate()) == 22050
        assert fmt.getChannels() == 2
        assert fmt.getSampleSizeInBits() == 16
        assert int(ais.getFrameLength()) == 500
        raw = bytes(ais.readAllBytes())
        got = np.frombuffer(raw, dtype="<i2").reshape(-1, 2)
        assert (got == samples).all()

    def test_javax_sound_wav_parsed_by_ours(self, spark):
        from graphrag_mrkr_2_spark.functions.audiocodecs import decode_wav

        jvm = spark._jvm
        fmt = jvm.javax.sound.sampled.AudioFormat(8000.0, 16, 1, True, False)
        samples = np.arange(-100, 100, dtype=np.int16)
        raw = samples.astype("<i2").tobytes()
        ais = jvm.javax.sound.sampled.AudioInputStream(
            jvm.java.io.ByteArrayInputStream(bytearray(raw)), fmt, len(samples)
        )
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.javax.sound.sampled.AudioSystem.write(
            ais, jvm.javax.sound.sampled.AudioFileFormat.Type.WAVE, baos
        )
        back, rate = decode_wav(bytes(baos.toByteArray()))
        assert rate == 8000
        assert back.shape == (200, 1)
        assert (back[:, 0] == samples).all()

    @pytest.mark.parametrize("enc_name", ["ULAW", "ALAW"])
    def test_g711_wav_expansion_matches_javax_sound(self, spark, enc_name):
        """G.711 companded WAVs (format codes 7/6): our CCITT expansion
        tables must agree with the JDK's converter. javax.sound expands
        8-bit μ-law/A-law to 16-bit PCM; our decode_wav of the companded
        file must match that expansion sample-for-sample."""
        from graphrag_mrkr_2_spark.functions.audiocodecs import decode_wav

        jvm = spark._jvm
        Encoding = jvm.javax.sound.sampled.AudioFormat.Encoding
        enc = getattr(Encoding, enc_name)
        comp_fmt = jvm.javax.sound.sampled.AudioFormat(enc, 8000.0, 8, 1, 1, 8000.0, False)
        payload = bytes(range(256))  # every companded byte value once
        ais = jvm.javax.sound.sampled.AudioInputStream(
            jvm.java.io.ByteArrayInputStream(bytearray(payload)), comp_fmt, 256
        )
        # write the companded stream as a WAV (format code 7/6)
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.javax.sound.sampled.AudioSystem.write(
            ais, jvm.javax.sound.sampled.AudioFileFormat.Type.WAVE, baos
        )
        wav = bytes(baos.toByteArray())
        ours, rate = decode_wav(wav)
        assert rate == 8000 and ours.shape == (256, 1)

        # the JDK's own expansion to 16-bit signed little-endian PCM
        ais2 = jvm.javax.sound.sampled.AudioInputStream(
            jvm.java.io.ByteArrayInputStream(bytearray(payload)), comp_fmt, 256
        )
        pcm_fmt = jvm.javax.sound.sampled.AudioFormat(8000.0, 16, 1, True, False)
        conv = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(pcm_fmt, ais2)
        theirs = np.frombuffer(bytes(conv.readAllBytes()), dtype="<i2")
        assert (ours[:, 0] == theirs).all()


def _imageio_write_tiff_jpeg(spark, px, gray=False, tile=None):
    """(h, w, 3) uint8 -> TIFF with JPEG compression via the JDK's TIFF
    plugin. Unlike libtiff (shared JPEGTables tag), the JDK writer inlines
    a complete JPEG stream per segment — the other legal TechNote-2 shape.
    ``tile=(w, h)`` requests a tiled layout (tags 322-325)."""
    jvm = spark._jvm
    img = _java_image(spark, px, gray)
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tif").next()
    param = writer.getDefaultWriteParam()
    param.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("JPEG")
    if tile is not None:
        param.setTilingMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setTiling(tile[0], tile[1], 0, 0)
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(img, None, None), param)
    ios.flush()
    writer.dispose()
    return bytes(baos.toByteArray())


def _imageio_raster_gray(spark, data: bytes) -> np.ndarray:
    """ImageIO.read -> raw band-0 raster samples (h, w) uint8. For
    TYPE_BYTE_GRAY images getRGB() gamma-converts linear gray to sRGB;
    the codec-level oracle is the RAW stored samples."""
    jvm = spark._jvm
    gateway = spark.sparkContext._gateway
    img = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(bytearray(data))
    )
    assert img is not None
    w, h = img.getWidth(), img.getHeight()
    jarr = gateway.new_array(jvm.int, w * h)
    img.getRaster().getSamples(0, 0, w, h, 0, jarr)
    return np.asarray(list(jarr), dtype=np.int64).reshape(h, w).astype(np.uint8)


@pytest.mark.spark
class TestJpegInTiffJdk:
    """JPEG-in-TIFF against the JDK's TIFF plugin — the independent
    producer whose strips inline full JPEG streams (no JPEGTables tag),
    complementing the libtiff A/B in test_tiffcodec.py which always
    shares tables via tag 347. Pixel oracle = the JDK's own decode of
    the same file, asserted BIT-IDENTICAL (shared IJG reconstruction)."""

    @staticmethod
    def _smooth(h, w):
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack(
            [(40 + yy * 2) % 256, (60 + xx * 3) % 256, (50 + yy + xx) % 256],
            axis=2,
        ).astype(np.uint8)

    def test_rgb_single_strip(self, spark):
        from graphrag_mrkr_2_spark.functions.tiffcodec import decode_tiff

        px = self._smooth(48, 32)
        data = _imageio_write_tiff_jpeg(spark, px)
        ours = decode_tiff(data)
        theirs = _imageio_read(spark, data)
        assert ours.shape == (48, 32, 3)
        assert (ours == theirs).all()

    def test_rgb_tiled(self, spark):
        from graphrag_mrkr_2_spark.functions.tiffcodec import decode_tiff

        # 48x40 over 16x16 tiles -> 3x3 grid with a ragged right edge
        px = self._smooth(48, 40)
        data = _imageio_write_tiff_jpeg(spark, px, tile=(16, 16))
        assert b"\x01\x42" in data or b"\x42\x01" in data  # tag 322 present
        ours = decode_tiff(data)
        theirs = _imageio_read(spark, data)
        assert ours.shape == (48, 40, 3)
        assert (ours == theirs).all()

    def test_grayscale_raw_samples(self, spark):
        """TYPE_BYTE_GRAY stores LINEAR gray: the JDK's getRGB() would
        gamma-lift the samples (a colorspace choice, not a codec fact), so
        compare against the raw raster band instead."""
        from graphrag_mrkr_2_spark.functions.tiffcodec import decode_tiff

        px = self._smooth(48, 32)
        g = np.stack([px[:, :, 0]] * 3, axis=2)
        data = _imageio_write_tiff_jpeg(spark, g, gray=True)
        ours = decode_tiff(data)
        raw = _imageio_raster_gray(spark, data)
        assert ours.shape == (48, 32, 1)
        assert (ours[:, :, 0] == raw).all()

    def test_probe_and_features_route_jpeg_in_tiff(self, spark):
        """Operator wiring: a JPEG-compressed TIFF flows through
        probe_media -> image_features in STRICT mode."""
        from graphrag_mrkr_2_spark.operators.multimodal import image_features
        from helpers import probed_media

        px = self._smooth(48, 32)
        data = _imageio_write_tiff_jpeg(spark, px)
        media = probed_media(spark, [("jit", data)])
        meta = media.collect()[0]["meta"]
        assert meta["codec"] == "tiff"
        assert int(meta["width"]) == 32 and int(meta["height"]) == 48
        feats = image_features(media, strict=True, decoder=False).collect()
        assert len(feats) == 1
