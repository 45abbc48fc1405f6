"""Pure-stdlib RIFF/WAVE PCM codec + its Spark round-trip wiring."""

import struct

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions.audiocodecs import (
    decode_wav,
    encode_wav,
    sniff_audio,
)


class TestWav:
    @pytest.mark.parametrize("channels", [1, 2, 4])
    def test_roundtrip_int16(self, channels):
        rng = np.random.RandomState(channels)
        s = rng.randint(-32768, 32768, size=(1000, channels)).astype(np.int16)
        back, rate = decode_wav(encode_wav(s, 44100))
        assert rate == 44100
        assert back.dtype == np.int16 and back.shape == s.shape
        assert (back == s).all()

    def test_roundtrip_uint8(self):
        rng = np.random.RandomState(9)
        s = rng.randint(0, 256, size=(513, 1)).astype(np.uint8)  # odd data size
        back, rate = decode_wav(encode_wav(s, 8000))
        assert rate == 8000 and back.dtype == np.uint8
        assert (back == s).all()

    def test_mono_1d_input(self):
        s = np.arange(-100, 100, dtype=np.int16)
        back, _ = decode_wav(encode_wav(s, 16000))
        assert back.shape == (200, 1)
        assert (back[:, 0] == s).all()

    def test_unknown_chunks_skipped(self):
        """LIST/INFO chunks before data must be walked over (incl. odd-size
        padding)."""
        s = np.array([1, -2, 3], dtype=np.int16)
        data = encode_wav(s, 8000)
        # splice an odd-sized LIST chunk right after the WAVE tag
        extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
        spliced = data[:12] + extra + data[12:]
        # fix RIFF size
        spliced = (
            spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
        )
        back, rate = decode_wav(spliced)
        assert rate == 8000 and (back[:, 0] == s).all()

    def test_rejects_non_wav_and_compressed(self):
        with pytest.raises(ValueError, match="RIFF"):
            decode_wav(b"ID3\x03mp3 payload")
        s = np.zeros(10, dtype=np.int16)
        data = bytearray(encode_wav(s, 8000))
        data[20] = 85  # format code 0x55xx != 1 (PCM)
        with pytest.raises(ValueError, match="format code"):
            decode_wav(bytes(data))

    def test_rejects_zero_channels(self):
        s = np.zeros(10, dtype=np.int16)
        data = bytearray(encode_wav(s, 8000))
        data[22:24] = b"\x00\x00"  # corrupt fmt: nChannels = 0
        with pytest.raises(ValueError, match="zero channels"):
            decode_wav(bytes(data))

    def test_sniff(self):
        assert sniff_audio(encode_wav(np.zeros(4, dtype=np.int16), 8000)) == "wav"
        assert sniff_audio(b"ID3\x03") is None  # mp3: the codec seam
        assert sniff_audio(b"") is None


@pytest.mark.spark
class TestSparkWiring:
    def test_roundtrip_checksums_match_formula(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import (
            audio_roundtrip_checksums,
        )

        ids = spark.createDataFrame([(i,) for i in (0, 5, 77)], "doc_id long")
        rows = {
            r["doc_id"]: r
            for r in audio_roundtrip_checksums(ids, n_samples=400, rate=8000).collect()
        }
        for i in (0, 5, 77):
            expected = sum(
                (((i * 31 + k * 17) % 65536) - 32768) * (k + 1) for k in range(400)
            )
            assert rows[str(i)]["wav_checksum"] == str(expected)
            assert rows[str(i)]["n_samples"] == 400
            assert rows[str(i)]["sample_rate"] == 8000
