"""Media text-metadata extraction (functions/mediatags.py +
operators/multimodal.extract_media_tags_table).

Round-trip conformance (each builder → its parser, all five container
paths) plus crawl-hardening: truncated/malformed structures raise or
degrade to partial tags instead of misparsing, all four ID3 text
encodings decode, tag size caps hold.
"""

from __future__ import annotations

import struct

import pytest

from graphrag_mrkr_2_spark.functions.mediatags import (
    build_flac_with_tags,
    build_id3v2,
    build_mp4_with_tags,
    build_ogg_opus_with_tags,
    build_vorbis_comment,
    extract_flac_comments,
    extract_id3v2,
    extract_media_tags,
    extract_mp4_tags,
    extract_ogg_comments,
)

TAGS = {
    "title": "A Song Título",
    "artist": "Band <X> & Co",
    "album": "LP № 7",
    "comment": "ripped from the crawl",
    "lyrics": "Line one,\nline two —\nla la la.",
}


class TestRoundTrips:
    @pytest.mark.parametrize("name,build", [
        ("id3v24", lambda t: build_id3v2(t, 4)),
        ("id3v23", lambda t: build_id3v2(t, 3)),
        ("flac", build_flac_with_tags),
        ("ogg_opus", build_ogg_opus_with_tags),
        ("mp4", build_mp4_with_tags),
    ])
    def test_all_containers(self, name, build):
        got = extract_media_tags(build(TAGS))
        got.pop("fmt")
        assert got == TAGS

    def test_partial_tags(self):
        partial = {"title": "Only a title"}
        got = extract_media_tags(build_id3v2(partial))
        assert got == {"title": "Only a title", "fmt": "id3"}

    def test_probes_still_read_fixtures(self):
        """The tag fixtures must be container-valid, not just
        self-consistent — the independent header probes agree."""
        from graphrag_mrkr_2_spark.functions.mediaprobe import (
            probe_flac,
            probe_ogg,
        )

        assert probe_flac(build_flac_with_tags(TAGS))["codec"] == "flac"
        assert probe_ogg(build_ogg_opus_with_tags(TAGS))["codec"] == "opus"


class TestId3:
    def test_utf16be_and_latin1_encodings(self):
        """Hand-built frames in the two encodings the builder doesn't
        emit (enc 0 latin-1, enc 2 UTF-16BE)."""
        body0 = b"\x00" + "cafe latin".encode("latin-1")
        body2 = b"\x02" + "utf16 be".encode("utf-16-be")
        frames = b"TIT2" + struct.pack(">I", len(body0)) + b"\x00\x00" + body0
        frames += b"TALB" + struct.pack(">I", len(body2)) + b"\x00\x00" + body2
        n = len(frames)
        tag = b"ID3\x03\x00\x00" + bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
        ) + frames
        got = extract_id3v2(tag)
        assert got == {"title": "cafe latin", "album": "utf16 be"}

    def test_v22_returns_empty_not_garbage(self):
        tag = b"ID3\x02\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
        assert extract_id3v2(tag) == {}

    def test_truncated_frame_keeps_parsed_prefix(self):
        full = build_id3v2({"title": "kept", "lyrics": "cut off"})
        # cut inside the USLT frame body: title stays, lyrics dropped
        cut = full[: full.find(b"USLT") + 12]
        got = extract_id3v2(cut)
        assert got.get("title") == "kept"
        assert "lyrics" not in got

    def test_no_tag(self):
        assert extract_id3v2(b"\xff\xfb\x90\x00" + b"\x00" * 40) == {}


class TestVorbisStructures:
    def test_flac_without_comment_block(self):
        flac = build_flac_with_tags({})  # empty comment list still present
        assert extract_flac_comments(flac) == {}

    def test_flac_not_flac_raises(self):
        with pytest.raises(ValueError):
            extract_flac_comments(b"OggS" + b"\x00" * 30)

    def test_field_overrun_raises(self):
        body = bytearray(build_vorbis_comment({"title": "x"}))
        # inflate the field length past the block end
        pos = len(body) - len(b"TITLE=x") - 4
        body[pos:pos + 4] = struct.pack("<I", 10_000)
        flac = (b"fLaC" + bytes([0x80 | 4]) + len(body).to_bytes(3, "big")
                + bytes(body))
        with pytest.raises(ValueError):
            extract_flac_comments(flac)

    def test_unknown_keys_ignored(self):
        comment = build_vorbis_comment({"title": "kept"})
        extra = "ENCODER=lavf".encode()
        # append one extra field and bump the count
        (count,) = struct.unpack_from("<I", comment, 4 + struct.unpack_from(
            "<I", comment, 0)[0])
        vlen = struct.unpack_from("<I", comment, 0)[0]
        head = comment[:4 + vlen]
        rebuilt = head + struct.pack("<I", count + 1) \
            + comment[4 + vlen + 4:] + struct.pack("<I", len(extra)) + extra
        flac = (b"fLaC" + bytes([0x80 | 4])
                + len(rebuilt).to_bytes(3, "big") + rebuilt)
        assert extract_flac_comments(flac) == {"title": "kept"}

    def test_ogg_comment_spanning_pages(self):
        """A comment packet laced across two pages still parses (page
        payloads concatenate; the structure is length-prefixed)."""
        from graphrag_mrkr_2_spark.functions.mediatags import _ogg_page

        head = (b"OpusHead\x01" + bytes([2]) + struct.pack("<H", 312)
                + struct.pack("<I", 48000) + b"\x00\x00" + b"\x00")
        comment = b"OpusTags" + build_vorbis_comment(
            {"lyrics": "x" * 600})  # > 255: multiple lacing segments
        half = len(comment) // 2
        data = (_ogg_page(head, header_type=2, seq=0)
                + _ogg_page(comment[:half], seq=1)
                + _ogg_page(comment[half:], seq=2, header_type=1))
        assert extract_ogg_comments(data) == {"lyrics": "x" * 600}


class TestMp4Tags:
    def test_non_utf8_data_atom_skipped(self):
        mp4 = bytearray(build_mp4_with_tags({"title": "x"}))
        # flip the data atom's type flag away from 1 (UTF-8 text)
        pos = bytes(mp4).find(b"data") + 4
        mp4[pos:pos + 4] = struct.pack(">I", 21)  # e.g. integer type
        assert extract_mp4_tags(bytes(mp4)) == {}

    def test_no_ilst(self):
        from graphrag_mrkr_2_spark.functions.mp4mux import mux_mp4_video

        mp4 = mux_mp4_video([b"x"], 8, 8, "hvc1", b"\x01" * 23)
        assert extract_mp4_tags(mp4) == {}


class TestReviewRegressions:
    """r6 review findings, each with its repro."""

    def test_large_ogg_with_small_tags(self):
        """A >1 MB Ogg stream with a tiny valid OpusTags packet must
        extract — the old code accumulated the whole stream and tripped
        the comment-block size guard on it."""
        from graphrag_mrkr_2_spark.functions.mediatags import _ogg_page

        base = build_ogg_opus_with_tags({"title": "small", "lyrics": "tiny"})
        audio = b"".join(_ogg_page(b"\xaa" * 60000, seq=3 + i)
                         for i in range(24))  # ~1.4 MB of audio pages
        got = extract_ogg_comments(base + audio)
        assert got == {"title": "small", "lyrics": "tiny"}

    def test_id3v23_whole_tag_unsynchronisation(self):
        """v2.3 unsync stuffs 0x00 after every 0xFF across the whole tag
        body; the parser must de-stuff before walking frames (older
        iTunes wrote such tags)."""
        raw = build_id3v2({"title": "a\xffb", "comment": "c\xffd"}, 3)
        body = raw[10:].replace(b"\xff", b"\xff\x00")
        n = len(body)
        hdr = b"ID3\x03\x00" + bytes([0x80]) + bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
        got = extract_id3v2(hdr + body)
        assert got == {"title": "a\xffb", "comment": "c\xffd"}

    def test_id3v24_per_frame_unsync_and_dli(self):
        """v2.4 per-frame unsync (format flag 0x02) + data-length
        indicator (0x01): both honored when walking the frame body."""
        text = b"\x03" + "y\xffz".encode("utf-8")
        stuffed = text.replace(b"\xff", b"\xff\x00")
        dli = bytes([0, 0, 0, len(text) & 0x7F])
        frame_body = dli + stuffed
        n = len(frame_body)
        frame = b"TIT2" + bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
        ) + b"\x00\x03" + frame_body  # format flags: DLI | unsync
        tn = len(frame)
        tag = b"ID3\x04\x00\x00" + bytes(
            [(tn >> 21) & 0x7F, (tn >> 14) & 0x7F,
             (tn >> 7) & 0x7F, tn & 0x7F]) + frame
        assert extract_id3v2(tag) == {"title": "y\xffz"}

    def test_non_ascii_vendor_string(self):
        from graphrag_mrkr_2_spark.functions.mediatags import (
            _parse_vorbis_comment,
        )

        from unittest import mock

        from graphrag_mrkr_2_spark.functions import mediatags

        with mock.patch.object(mediatags, "VORBIS_VENDOR", "café ñ"):
            comment = build_vorbis_comment({"title": "x"})
        assert _parse_vorbis_comment(comment) == {"title": "x"}

    def test_malformed_comment_after_magic_raises(self):
        """Magic present but structure never parses → ValueError for
        quarantine, not a silent empty dict."""
        from graphrag_mrkr_2_spark.functions.mediatags import _ogg_page

        head = (b"OpusHead\x01" + bytes([2]) + struct.pack("<H", 312)
                + struct.pack("<I", 48000) + b"\x00\x00" + b"\x00")
        bad = b"OpusTags" + struct.pack("<I", 1 << 30)  # absurd vendor len
        data = (_ogg_page(head, header_type=2, seq=0)
                + _ogg_page(bad, seq=1, header_type=4))
        with pytest.raises(ValueError):
            extract_ogg_comments(data)


class TestDispatch:
    def test_unrecognized_raises(self):
        with pytest.raises(ValueError):
            extract_media_tags(b"RIFF....WAVE")


class TestSparkOperator:
    def test_extract_rows_and_quarantine(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import (
            extract_media_tags_table,
        )

        df = spark.createDataFrame(
            [
                ("a", build_id3v2(TAGS)),
                ("b", build_flac_with_tags({"title": "flac title"})),
                ("c", b"\x00\x01garbage"),
            ],
            "media_id string, payload binary",
        )
        rows = {r["media_id"]: r for r in
                extract_media_tags_table(df).collect()}
        assert rows["a"]["lyrics"] == TAGS["lyrics"]
        assert rows["a"]["fmt"] == "id3"
        assert rows["b"]["title"] == "flac title"
        assert rows["b"]["artist"] is None
        assert "c" not in rows


class TestId3V22:
    def _v22(self, frames: bytes, flags: int = 0) -> bytes:
        n = len(frames)
        return b"ID3\x02\x00" + bytes([flags]) + bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F,
             (n >> 7) & 0x7F, n & 0x7F]) + frames

    @staticmethod
    def _frame(fid: bytes, body: bytes) -> bytes:
        return fid + len(body).to_bytes(3, "big") + body

    def test_text_comment_lyrics(self):
        frames = (self._frame(b"TT2", b"\x00old title")
                  + self._frame(b"TP1", b"\x00old band")
                  + self._frame(b"COM", b"\x00eng\x00a v22 comment")
                  + self._frame(b"ULT", b"\x00eng\x00v22 lyrics line"))
        assert extract_id3v2(self._v22(frames)) == {
            "title": "old title", "artist": "old band",
            "comment": "a v22 comment", "lyrics": "v22 lyrics line"}

    def test_unsync_whole_tag(self):
        frames = self._frame(b"TT2", b"\x00a\xffb")
        stuffed = frames.replace(b"\xff", b"\xff\x00")
        assert extract_id3v2(self._v22(stuffed, flags=0x80)) == {
            "title": "a\xffb"}

    def test_truncated_frame_keeps_prefix(self):
        frames = (self._frame(b"TT2", b"\x00kept")
                  + b"TAL" + (50).to_bytes(3, "big") + b"\x00cut")
        assert extract_id3v2(self._v22(frames)) == {"title": "kept"}


class TestMkvTags:
    def test_roundtrip(self):
        from graphrag_mrkr_2_spark.functions.mediatags import (
            build_mkv_with_tags,
            extract_mkv_tags,
        )

        tags = {"title": "MKV Song", "artist": "Band", "album": "LP",
                "comment": "c", "lyrics": "la\nla"}
        assert extract_mkv_tags(build_mkv_with_tags(tags)) == tags

    def test_dispatch_and_unknown_names(self):
        from graphrag_mrkr_2_spark.functions.mediatags import (
            build_mkv_with_tags,
        )

        got = extract_media_tags(build_mkv_with_tags({"title": "t"}))
        assert got == {"title": "t", "fmt": "mkv"}

    def test_subtitle_mkv_without_tags(self):
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mux_mkv_subtitles,
        )

        got = extract_media_tags(mux_mkv_subtitles([(0, 1000, "x")]))
        assert got == {"fmt": "mkv"}


class TestId3V22Regressions:
    def test_utf16_descriptor_alignment(self):
        """v2.2 COM with a UTF-16 descriptor: the terminator search must
        stay code-unit aligned or the text decodes as mojibake."""
        desc = "a".encode("utf-16")          # BOM + 'a'
        text = "aligned ok".encode("utf-16")
        body = b"\x01" + b"eng" + desc + b"\x00\x00" + text
        frame = b"COM" + len(body).to_bytes(3, "big") + body
        n = len(frame)
        tag = b"ID3\x02\x00\x00" + bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F,
             (n >> 7) & 0x7F, n & 0x7F]) + frame
        assert extract_id3v2(tag) == {"comment": "aligned ok"}

    def test_compressed_v22_tag_skipped(self):
        frames = b"TT2" + (5).to_bytes(3, "big") + b"\x00junk"
        n = len(frames)
        tag = b"ID3\x02\x00\x40" + bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F,
             (n >> 7) & 0x7F, n & 0x7F]) + frames
        assert extract_id3v2(tag) == {}


class TestId3V1:
    @staticmethod
    def _v1(title=b"", artist=b"", album=b"", comment=b"") -> bytes:
        return (b"TAG" + title.ljust(30, b"\x00")
                + artist.ljust(30, b"\x00") + album.ljust(30, b"\x00")
                + b"2001" + comment.ljust(28, b"\x00") + b"\x00\x05\x0c")

    def test_trailer_parses(self):
        from graphrag_mrkr_2_spark.functions.mediatags import extract_id3v1

        payload = b"\xff\xfb" * 100 + self._v1(
            b"Old Title", b"Old Band", b"Old LP", b"old comment")
        assert extract_id3v1(payload) == {
            "title": "Old Title", "artist": "Old Band",
            "album": "Old LP", "comment": "old comment"}

    def test_dispatch_v1_only(self):
        payload = b"\xff\xfb" * 50 + self._v1(b"V1 Only")
        assert extract_media_tags(payload) == {"title": "V1 Only",
                                               "fmt": "id3"}

    def test_v2_wins_shared_keys(self):
        v2 = build_id3v2({"title": "V2 Title"})
        payload = v2 + b"\xff\xfb" * 50 + self._v1(b"V1 Title",
                                                   artist=b"V1 Band")
        got = extract_media_tags(payload)
        assert got["title"] == "V2 Title"   # v2 wins
        assert got["artist"] == "V1 Band"   # v1 fills the gap

    def test_no_trailer(self):
        from graphrag_mrkr_2_spark.functions.mediatags import extract_id3v1

        assert extract_id3v1(b"\xff\xfb" * 100) == {}


class TestId3V1Regressions:
    def test_flac_with_v1_trailer_keeps_real_tags(self):
        """A FLAC with an appended ID3v1 trailer must keep its Vorbis
        comments and fmt=flac — the trailer is a last-resort fallback,
        not a dispatch override."""
        flac = build_flac_with_tags({"title": "Real FLAC Title"})
        v1 = (b"TAG" + b"V1 Junk".ljust(30, b"\x00") + b"\x00" * 30
              + b"\x00" * 30 + b"2001" + b"\x00" * 30 + b"\x0c")
        got = extract_media_tags(flac + v1)
        assert got == {"title": "Real FLAC Title", "fmt": "flac"}

    def test_v10_thirty_byte_comment(self):
        from graphrag_mrkr_2_spark.functions.mediatags import extract_id3v1

        comment = b"abcdefghijklmnopqrstuvwxyz1234"  # full 30 bytes
        v1 = (b"TAG" + b"t".ljust(30, b"\x00") + b"\x00" * 30
              + b"\x00" * 30 + b"1999" + comment + b"\x0c")
        assert len(v1) == 128
        got = extract_id3v1(b"\xff\xfb" * 10 + v1)
        assert got["comment"] == "abcdefghijklmnopqrstuvwxyz1234"

    def test_v11_track_byte_not_in_comment(self):
        from graphrag_mrkr_2_spark.functions.mediatags import extract_id3v1

        comment = b"short comment".ljust(28, b"\x00") + b"\x00\x07"  # track 7
        v1 = (b"TAG" + b"t".ljust(30, b"\x00") + b"\x00" * 30
              + b"\x00" * 30 + b"1999" + comment + b"\x0c")
        got = extract_id3v1(b"\xff\xfb" * 10 + v1)
        assert got["comment"] == "short comment"

    def test_coincidental_tag_bytes_rejected(self):
        """Random binary with 'TAG' at -128 must not produce garbage
        rows — control bytes in the fields reject the trailer."""
        import os

        blob = b"TAG" + bytes(range(1, 126))  # control bytes throughout
        payload = b"\x00" * 64 + blob
        assert len(payload) >= 128
        with pytest.raises(ValueError):
            extract_media_tags(payload)
