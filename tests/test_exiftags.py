"""EXIF text extraction (functions/exiftags.py +
operators/multimodal.extract_exif_table).

Round-trip conformance for both carriers (TIFF directory, decodable
JPEG with spliced APP1) plus hardening: big-endian files, UserComment
charsets, truncated IFDs, marker-walk edge cases.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions.exiftags import (
    build_exif_jpeg,
    build_exif_tiff_blob,
    exif_from_jpeg,
    extract_exif,
)

TAGS = {
    "description": "A street scene",
    "artist": "Jo Photographer",
    "copyright": "(c) 2024 someone",
    "title": "Straße Übersicht",
    "comment": "shot at ƒ/2.8 — nice light",
    "author": "Jo",
    "subject": "city",
    "keywords": "street;city;night",
}


class TestRoundTrips:
    def test_tiff_directory(self):
        got = extract_exif(build_exif_tiff_blob(TAGS))
        assert got.pop("fmt") == "tiff"
        assert got == TAGS

    def test_jpeg_app1(self):
        got = extract_exif(build_exif_jpeg(TAGS))
        assert got.pop("fmt") == "jpeg"
        assert got == TAGS

    def test_jpeg_carrier_still_decodes(self):
        """The fixture is a REAL image: our own JPEG decoder reads the
        pixels around the spliced APP1."""
        from graphrag_mrkr_2_spark.functions.jpegcodec import decode_jpeg

        jpeg = build_exif_jpeg({"title": "t"})
        assert decode_jpeg(jpeg).shape == (8, 8, 3)

    def test_partial_tags(self):
        got = extract_exif(build_exif_tiff_blob({"artist": "only me"}))
        assert got == {"artist": "only me", "fmt": "tiff"}

    def test_jpeg_without_exif(self):
        assert extract_exif(b"\xff\xd8\xff\xd9") == {"fmt": "jpeg"}
        assert exif_from_jpeg(b"\xff\xd8\xff\xd9") is None


class TestParsing:
    def test_big_endian_tiff(self):
        """Hand-built MM (big-endian) directory with one ASCII tag."""
        text = b"be scene\x00"
        ifd = struct.pack(">H", 1)
        ifd += struct.pack(">HHI", 0x010E, 2, len(text)) \
            + struct.pack(">I", 8 + 2 + 12 + 4)
        ifd += struct.pack(">I", 0)
        blob = b"MM\x00*" + struct.pack(">I", 8) + ifd + text
        assert extract_exif(blob) == {"description": "be scene",
                                      "fmt": "tiff"}

    def test_user_comment_ascii_charset(self):
        payload = b"ASCII\x00\x00\x00" + b"plain comment"
        ifd0 = struct.pack("<H", 1)
        exif_off = 8 + 2 + 12 + 4
        ifd0 += struct.pack("<HHI", 0x8769, 4, 1) + struct.pack("<I", exif_off)
        ifd0 += struct.pack("<I", 0)
        heap_off = exif_off + 2 + 12 + 4
        exif_ifd = struct.pack("<H", 1)
        exif_ifd += struct.pack("<HHI", 0x9286, 7, len(payload)) \
            + struct.pack("<I", heap_off)
        exif_ifd += struct.pack("<I", 0)
        blob = b"II*\x00" + struct.pack("<I", 8) + ifd0 + exif_ifd + payload
        assert extract_exif(blob) == {"comment": "plain comment",
                                      "fmt": "tiff"}

    def test_out_of_bounds_value_raises(self):
        blob = bytearray(build_exif_tiff_blob({"description": "x" * 40}))
        # point the first tag's value offset past EOF
        pos = 8 + 2 + 8  # header + count + first entry's tag/type/count
        blob[pos:pos + 4] = struct.pack("<I", 1 << 30)
        with pytest.raises(ValueError):
            extract_exif(bytes(blob))

    def test_implausible_entry_count_raises(self):
        blob = b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 65535)
        with pytest.raises(ValueError):
            extract_exif(blob + b"\x00" * 100)

    def test_marker_overrun_raises(self):
        bad = b"\xff\xd8\xff\xe1\xff\xff" + b"Exif\x00\x00"
        with pytest.raises(ValueError):
            exif_from_jpeg(bad)

    def test_not_image_raises(self):
        with pytest.raises(ValueError):
            extract_exif(b"fLaC....")


class TestSparkOperator:
    def test_rows_and_quarantine(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import (
            extract_exif_table,
        )

        df = spark.createDataFrame(
            [
                ("a", build_exif_jpeg(TAGS)),
                ("b", build_exif_tiff_blob({"artist": "tiff artist"})),
                ("c", b"\xff\xd8\xff\xd9"),  # JPEG, no EXIF: row, NULLs
                ("d", b"\x00garbage"),       # quarantined
            ],
            "media_id string, payload binary",
        )
        rows = {r["media_id"]: r for r in extract_exif_table(df).collect()}
        assert rows["a"]["title"] == TAGS["title"]
        assert rows["a"]["fmt"] == "jpeg"
        assert rows["b"]["artist"] == "tiff artist"
        assert rows["c"]["fmt"] == "jpeg" and rows["c"]["title"] is None
        assert "d" not in rows


class TestReviewRegressions:
    """r6 review findings, each with its repro."""

    def test_fill_bytes_before_marker(self):
        """Spec-legal 0xFF fill bytes before a marker (B.1.1.2) must not
        derail the segment walk."""
        jpeg = build_exif_jpeg({"title": "filled"})
        filled = jpeg[:2] + b"\xff\xff" + jpeg[2:]
        assert extract_exif(filled)["title"] == "filled"

    def test_trailing_bytes_after_eoi(self):
        """Crawl JPEGs carry trailing bytes after EOI; the walk must
        terminate there, not unpack garbage as a segment length."""
        assert exif_from_jpeg(b"\xff\xd8\xff\xd9" + b"XXXXXX") is None

    def test_short_tiff_is_value_error(self):
        """Truncated headers must raise ValueError (the documented
        quarantine contract), never struct.error."""
        for blob in (b"II\x2a", b"II*\x00\x08", b"MM\x00*\x00"):
            with pytest.raises(ValueError):
                extract_exif(blob)

    def test_odd_length_xp_tag_drops_dangling_byte(self):
        # 5 bytes (> 4, so heap-stored): two UTF-16LE chars + a dangler
        ifd = struct.pack("<H", 1)
        val_off = 8 + 2 + 12 + 4
        ifd += struct.pack("<HHI", 0x9C9B, 1, 5) + struct.pack("<I", val_off)
        ifd += struct.pack("<I", 0)
        blob = b"II*\x00" + struct.pack("<I", 8) + ifd + b"a\x00b\x00c"
        assert extract_exif(blob) == {"title": "ab", "fmt": "tiff"}

    def test_author_subject_keywords_surface_in_operator(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import (
            extract_exif_table,
        )

        df = spark.createDataFrame(
            [("a", build_exif_tiff_blob(
                {"author": "au", "subject": "su", "keywords": "kw"}))],
            "media_id string, payload binary",
        )
        row = extract_exif_table(df).collect()[0]
        assert (row["author"], row["subject"], row["keywords"]) == \
            ("au", "su", "kw")

    def test_splice_helper_equals_full_builder(self):
        from graphrag_mrkr_2_spark.functions.exiftags import (
            splice_exif_app1,
        )
        from graphrag_mrkr_2_spark.functions.jpegcodec import encode_jpeg

        px = np.full((8, 8, 3), 128, dtype=np.uint8)
        tags = {"title": "same"}
        assert splice_exif_app1(encode_jpeg(px), tags) == \
            build_exif_jpeg(tags)
