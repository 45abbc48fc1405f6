"""Subtitle/caption extraction (functions/subtitles.py +
operators/multimodal.extract_subtitle_text).

The parsers are pure text kernels; conformance is round-trip (format_srt
/ mux_mkv_subtitles → parse back) plus crawl-hardening cases: BOM, CRLF,
index-less SRT, malformed cue blocks, WebVTT NOTE/STYLE blocks, voice
and styling tags, hour-less VTT timestamps, the cue cap.
"""

from __future__ import annotations

from unittest import mock

import pytest

from graphrag_mrkr_2_spark.functions import subtitles
from graphrag_mrkr_2_spark.functions.subtitles import (
    MAX_CUES,
    format_srt,
    mkv_subtitle_cues,
    mux_mkv_subtitles,
    parse_srt,
    parse_webvtt,
    sniff_subtitle,
)

CUES = [
    (0, 1500, "Hello world."),
    (1600, 3000, "Second cue,\nwith a newline."),
    (3100, 4000, "Third."),
]


class TestSrt:
    def test_roundtrip(self):
        assert parse_srt(format_srt(CUES)) == CUES

    def test_crlf_and_bom(self):
        srt = "﻿" + format_srt(CUES).replace("\n", "\r\n")
        assert parse_srt(srt) == CUES

    def test_indexless_blocks(self):
        srt = "00:00:00,000 --> 00:00:01,500\nHello.\n\n" \
              "00:00:02,000 --> 00:00:03,000\nBye.\n"
        assert parse_srt(srt) == [(0, 1500, "Hello."), (2000, 3000, "Bye.")]

    def test_malformed_block_skipped_not_fatal(self):
        srt = "1\nnot a timestamp\ngarbage\n\n" \
              "2\n00:00:02,000 --> 00:00:03,000\nKept.\n"
        assert parse_srt(srt) == [(2000, 3000, "Kept.")]

    def test_dot_millis_variant(self):
        # crawls contain SRT with '.' millisecond separators
        srt = "1\n00:00:00.500 --> 00:00:01.000\nDots.\n"
        assert parse_srt(srt) == [(500, 1000, "Dots.")]

    def test_sniff(self):
        assert sniff_subtitle(format_srt(CUES).encode()) == "srt"
        assert sniff_subtitle(b"just some text\nlines\n") is None


class TestWebVtt:
    def test_basic_with_notes_ids_settings_tags(self):
        vtt = (
            "WEBVTT - some metadata\n\n"
            "NOTE a comment\nspanning lines\n\n"
            "STYLE\n::cue { color: red }\n\n"
            "cue-1\n00:00:00.000 --> 00:00:01.500 align:start line:0\n"
            "<v Bob>Hello world.\n\n"
            "00:01.600 --> 00:03.000\nSecond <i>cue</i>.\n"
        )
        assert parse_webvtt(vtt) == [
            (0, 1500, "Hello world."),
            (1600, 3000, "Second cue."),
        ]

    def test_hours_timestamps(self):
        vtt = "WEBVTT\n\n01:02:03.004 --> 01:02:04.000\nLate cue.\n"
        start = ((1 * 60 + 2) * 60 + 3) * 1000 + 4
        assert parse_webvtt(vtt) == [(start, start + 996, "Late cue.")]

    def test_missing_header_raises(self):
        with pytest.raises(ValueError):
            parse_webvtt("00:00.000 --> 00:01.000\nNo header.\n")

    def test_tags_kept_when_asked(self):
        vtt = "WEBVTT\n\n00:00.000 --> 00:01.000\n<v Amy>Hi.\n"
        with mock.patch.object(subtitles, "WEBVTT_STRIP_TAGS", False):
            assert parse_webvtt(vtt) == [(0, 1000, "<v Amy>Hi.")]

    def test_sniff_with_bom(self):
        assert sniff_subtitle("﻿WEBVTT\n".encode()) == "webvtt"


class TestMkvSubtitles:
    def test_roundtrip(self):
        assert mkv_subtitle_cues(mux_mkv_subtitles(CUES)) == CUES

    def test_webvtt_codec_strips_tags(self):
        cues = [(0, 1000, "<b>Bold</b> text")]
        with mock.patch.object(subtitles, "MKV_SUBTITLE_CODEC", b"S_TEXT/WEBVTT"):
            mkv = mux_mkv_subtitles(cues)
        assert mkv_subtitle_cues(mkv) == [(0, 1000, "Bold text")]

    def test_no_subtitle_track_raises(self):
        from graphrag_mrkr_2_spark.functions.av1codec import mux_mkv_video

        mkv = mux_mkv_video([b"frame"], 16, 12, codec_id=b"V_VP8")
        with pytest.raises(ValueError):
            mkv_subtitle_cues(mkv)

    def test_not_mkv_raises(self):
        with pytest.raises(ValueError):
            mkv_subtitle_cues(b"RIFFxxxxWEBP")

    def test_probe_does_not_misroute(self):
        """A subtitle-only MKV must not be classified as decodable video
        by probe_mkv (codec comes back as the subtitle codec)."""
        from graphrag_mrkr_2_spark.functions.mediaprobe import probe_mkv

        meta = probe_mkv(mux_mkv_subtitles(CUES))
        assert meta["width"] is None


class TestCueCap:
    def test_srt_cap(self, monkeypatch):
        import graphrag_mrkr_2_spark.functions.subtitles as subs

        monkeypatch.setattr(subs, "MAX_CUES", 5)
        many = [(i * 1000, i * 1000 + 500, f"cue {i}") for i in range(20)]
        assert len(subs.parse_srt(format_srt(many))) == 5


class TestSparkOperator:
    def test_extract_all_three_paths(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import (
            extract_subtitle_text,
        )

        vtt = ("WEBVTT\n\n00:00.000 --> 00:01.500\nHello world.\n\n"
               "00:01.600 --> 00:03.000\nSecond cue,\nwith a newline.\n\n"
               "00:03.100 --> 00:04.000\nThird.\n")
        df = spark.createDataFrame(
            [
                ("srt0", format_srt(CUES).encode()),
                ("vtt0", vtt.encode()),
                ("mkv0", mux_mkv_subtitles(CUES)),
                ("bad0", b"\x00\x01 not a subtitle"),
            ],
            "media_id string, payload binary",
        )
        rows = extract_subtitle_text(df).collect()
        by_id: dict = {}
        for r in rows:
            by_id.setdefault(r["media_id"], []).append(
                (r["start_ms"], r["end_ms"], r["text"]))
        assert by_id["srt0"] == CUES
        assert by_id["vtt0"] == CUES
        assert by_id["mkv0"] == CUES
        assert "bad0" not in by_id  # quarantined, zero rows

    def test_strict_raises_on_garbage(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import (
            extract_subtitle_text,
        )

        df = spark.createDataFrame(
            [("bad0", b"\x00\x01 not a subtitle")],
            "media_id string, payload binary",
        )
        with pytest.raises(Exception):
            extract_subtitle_text(df, strict=True).collect()


class TestReviewRegressions:
    """r6 review findings on the subtitle module, each with its repro."""

    def test_late_cues_roundtrip(self):
        """Cues past 32.767 s: the mux packs absolute time in per-cue
        cluster bases — a single cluster at base 0 overflowed the signed
        16-bit in-block relative timestamp."""
        cues = [(0, 1500, "a"), (40_000, 41_500, "late"),
                (7_200_000, 7_201_000, "2h in")]
        assert mkv_subtitle_cues(mux_mkv_subtitles(cues)) == cues

    def test_100h_srt_roundtrip(self):
        """format_srt emits 3-digit hours past 99:59:59; the parser must
        read them back (long livestream captions exist)."""
        cues = [(360_000_000, 360_000_500, "x")]
        assert parse_srt(format_srt(cues)) == cues

    def test_vtt_leading_blank_lines(self):
        """sniff_subtitle tolerates leading blank lines; parse_webvtt
        rejecting them quarantined fully-parseable files."""
        vtt = "\n\nWEBVTT\n\n00:00.000 --> 00:01.000\nHi.\n"
        assert sniff_subtitle(vtt.encode()) == "webvtt"
        assert parse_webvtt(vtt) == [(0, 1000, "Hi.")]

    def test_note_like_cue_id_is_not_a_comment(self):
        """'NOTES-1' is a valid cue identifier, not a NOTE block — the
        keyword must be followed by whitespace/EOL to start a comment."""
        vtt = "WEBVTT\n\nNOTES-1\n00:00.000 --> 00:01.000\nKept.\n"
        assert parse_webvtt(vtt) == [(0, 1000, "Kept.")]

    def test_angle_brackets_in_text_survive(self):
        """Tag stripping must only remove real cue markup — '<' and '>'
        in the training text ('a < b', '<3') are payload."""
        vtt = "WEBVTT\n\n00:00.000 --> 00:01.000\na < b and c > d, <3\n"
        assert parse_webvtt(vtt) == [(0, 1000, "a < b and c > d, <3")]

    def test_timestamp_tags_stripped(self):
        vtt = ("WEBVTT\n\n00:00.000 --> 00:01.000\n"
               "<v Bob>Hi <i>there</i> <00:00:00.500>now\n")
        assert parse_webvtt(vtt) == [(0, 1000, "Hi there now")]

    def test_tracks_after_clusters_ordering(self):
        """Legal Matroska ordering some remuxers emit: Tracks AFTER the
        Clusters — the two-pass walk must still find the cues (the old
        single pass silently returned zero)."""
        from graphrag_mrkr_2_spark.functions.mediaprobe import (
            _MKV_SEGMENT,
            _walk_ebml,
        )
        from graphrag_mrkr_2_spark.functions.av1codec import _el

        mkv = mux_mkv_subtitles(CUES)
        for eid, ps, pe in _walk_ebml(mkv, 0, len(mkv)):
            if eid == _MKV_SEGMENT:
                seg = (ps, pe)
        children = []  # (id, full element bytes) in order
        for eid, ps, pe in _walk_ebml(mkv, *seg):
            # recover the full element span: find its header start by
            # rebuilding via _el on the payload (ids/sizes re-encode)
            children.append(_el(eid, mkv[ps:pe]))
        assert len(children) == 2 + len(CUES)  # info, tracks, clusters…
        # clusters first, Tracks LAST — then rebuild the file
        reordered = children[0:1] + children[2:] + children[1:2]
        ebml_hdr = mkv[:mkv.find(b"\x18\x53\x80\x67")]
        rebuilt = ebml_hdr + _el(_MKV_SEGMENT, b"".join(reordered))
        assert mkv_subtitle_cues(rebuilt) == CUES

    def test_track_number_127_all_ones_vint(self):
        """Track 127 encodes as the all-ones vint 0xFF — 'unknown size'
        for element lengths but a perfectly valid track NUMBER; the old
        reader dropped every block of such tracks."""
        with mock.patch.object(subtitles, "MKV_SUBTITLE_TRACK", 127):
            mkv = mux_mkv_subtitles(CUES)
        assert mkv_subtitle_cues(mkv) == CUES

    def test_laced_block_skipped_not_fatal(self):
        """One laced subtitle block must not void the file's good cues
        (video keeps the raise — skipped frames break inter prediction)."""
        cues = [(0, 1000, "good one"), (2000, 3000, "lace-me"),
                (4000, 5000, "also good")]
        mkv = bytearray(mux_mkv_subtitles(cues))
        flag_pos = bytes(mkv).find(b"lace-me") - 1
        assert mkv[flag_pos] == 0
        mkv[flag_pos] = 0x02  # Xiph lacing flag
        got = mkv_subtitle_cues(bytes(mkv))
        assert got == [(0, 1000, "good one"), (4000, 5000, "also good")]

    def test_video_demux_still_raises_on_laced(self):
        from graphrag_mrkr_2_spark.functions.av1codec import (
            mkv_video_samples,
            mux_mkv_video,
        )

        mkv = bytearray(mux_mkv_video([b"lace-me-v"], 16, 12,
                                      codec_id=b"V_VP8"))
        flag_pos = bytes(mkv).find(b"lace-me-v") - 1
        mkv[flag_pos] |= 0x02
        with pytest.raises(ValueError):
            mkv_video_samples(bytes(mkv))


class TestMp4TimedText:
    CUES = [(0, 1500, "Hello."), (2000, 3500, "Gap then cue."),
            (3500, 4000, "Adjacent.")]

    def test_roundtrip_with_gaps(self):
        from media_fixtures import mux_mp4_timed_text
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mp4_subtitle_cues,
        )

        mp4 = mux_mp4_timed_text(self.CUES)
        assert mp4_subtitle_cues(mp4) == self.CUES

    def test_unsorted_cues_rejected_by_mux(self):
        from media_fixtures import mux_mp4_timed_text

        with pytest.raises(ValueError):
            mux_mp4_timed_text([(2000, 3000, "b"), (0, 1000, "a")])

    def test_video_only_mp4_raises(self):
        from graphrag_mrkr_2_spark.functions.mp4mux import (
            mux_mp4_video,
        )
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mp4_subtitle_cues,
        )

        mp4 = mux_mp4_video([b"x"], 8, 8, "hvc1", b"\x01" * 23)
        with pytest.raises(ValueError):
            mp4_subtitle_cues(mp4)

    def test_operator_extracts_tx3g(self, spark):
        from media_fixtures import mux_mp4_timed_text
        from graphrag_mrkr_2_spark.operators.multimodal import (
            extract_subtitle_text,
        )

        df = spark.createDataFrame(
            [("mp4s", mux_mp4_timed_text(self.CUES))],
            "media_id string, payload binary",
        )
        rows = extract_subtitle_text(df, strict=True).collect()
        got = [(r["start_ms"], r["end_ms"], r["text"]) for r in rows]
        assert got == self.CUES


class TestMp4TimedTextRegressions:
    """r6 review findings on the tx3g leg, each with its repro."""

    def test_fragmented_timed_text(self):
        """A DASH-style fragmented MP4 with tx3g samples must extract —
        the fragmented branch previously returned no durations_ms and
        mp4_subtitle_cues crashed with KeyError."""
        import struct as st

        from graphrag_mrkr_2_spark.functions.mp4mux import _box, _full_box
        from media_fixtures import mux_mp4_timed_text
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mp4_subtitle_cues,
        )

        cues = [(0, 1500, "frag one"), (1500, 3000, "frag two")]
        # init segment: take the timed-text moov, empty its tables via the
        # fmp4 video helper's shape — simplest valid route: build a
        # classic timed-text file, then rebuild as init + one fragment
        classic = mux_mp4_timed_text(cues)
        # locate the stbl inside and zero stts/stsz/stco while keeping
        # stsd; easier: hand-build the fragment against the classic moov
        # is invalid (it has sample tables), so instead assemble an fmp4
        # with the tx3g stsd by patching mux_fmp4_video's output codec
        # box is video-specific — hand-roll the whole file:
        from graphrag_mrkr_2_spark.functions.mp4mux import (
            _build_moov,
        )

        entry_start = classic.find(b"tx3g") - 4
        (entry_size,) = st.unpack_from(">I", classic, entry_start)
        entry = classic[entry_start:entry_start + entry_size]
        stbl = _box(b"stbl", b"".join([
            _full_box(b"stsd", 0, 0, st.pack(">I", 1) + entry),
            _full_box(b"stts", 0, 0, st.pack(">I", 0)),
            _full_box(b"stsc", 0, 0, st.pack(">I", 0)),
            _full_box(b"stsz", 0, 0, st.pack(">II", 0, 0)),
            _full_box(b"stco", 0, 0, st.pack(">I", 0)),
        ]))
        mvex = _box(b"mvex", _full_box(b"trex", 0, 0,
                                       st.pack(">IIIII", 1, 1, 1500, 0, 0)))
        ftyp = _box(b"ftyp", b"iso5" + st.pack(">I", 512) + b"iso5" +
                    b"iso6" + b"mp41")
        init = ftyp + _box(b"moov", _build_moov(0, 0, stbl, 0, handler=b"text")[8:] + mvex)
        samples = [st.pack(">H", len(t.encode())) + t.encode()
                   for _, _, t in cues]
        mfhd = _full_box(b"mfhd", 0, 0, st.pack(">I", 1))
        tfhd = _full_box(b"tfhd", 0, 0x020000, st.pack(">I", 1))
        tfdt = _full_box(b"tfdt", 1, 0, st.pack(">Q", 0))
        sizes = b"".join(st.pack(">I", len(x)) for x in samples)
        trun_total = 8 + 4 + 4 + 4 + len(sizes)
        traf_total = 8 + 16 + 20 + trun_total
        moof_len = 8 + 16 + traf_total
        trun = _full_box(b"trun", 0, 0x000201,
                         st.pack(">Ii", len(samples), moof_len + 8) + sizes)
        moof = _box(b"moof", mfhd + _box(b"traf", tfhd + tfdt + trun))
        frag = init + moof + _box(b"mdat", b"".join(samples))
        assert mp4_subtitle_cues(frag) == cues

    def test_chapter_track_before_tx3g_is_skipped(self):
        """A QuickTime chapter track (handler 'text', entry 'text') ahead
        of the tx3g track must be skipped, not fatal."""
        import struct as st

        from media_fixtures import mux_mp4_timed_text
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mp4_subtitle_cues,
        )

        cues = [(0, 1000, "real subs")]
        mp4 = mux_mp4_timed_text(cues)
        # clone the trak, rewrite the clone's entry fourcc to 'text',
        # and place it BEFORE the tx3g trak inside moov
        trak_start = mp4.find(b"trak") - 4
        (trak_size,) = st.unpack_from(">I", mp4, trak_start)
        trak = mp4[trak_start:trak_start + trak_size]
        chapter = trak.replace(b"tx3g", b"text")
        moov_start = mp4.find(b"moov") - 4
        (moov_size,) = st.unpack_from(">I", mp4, moov_start)
        new_moov_payload = (mp4[moov_start + 8:trak_start] + chapter
                            + mp4[trak_start:moov_start + moov_size])
        rebuilt = (mp4[:moov_start]
                   + st.pack(">I", 8 + len(new_moov_payload)) + b"moov"
                   + new_moov_payload)
        assert mp4_subtitle_cues(rebuilt) == cues

    def test_mux_rejects_backwards_and_oversize_cues(self):
        from media_fixtures import mux_mp4_timed_text

        with pytest.raises(ValueError):
            mux_mp4_timed_text([(5, 3, "backwards")])
        with pytest.raises(ValueError):
            mux_mp4_timed_text([(0, 1000, "x" * 70000)])


class TestAss:
    """SSA/ASS — the dominant fansub subtitle format on the crawl."""

    CUES = [(0, 1500, "Hello there."), (2000, 3500, "Two lines\nhere."),
            (4000, 5000, "Third!")]

    def test_roundtrip(self):
        from graphrag_mrkr_2_spark.functions.subtitles import parse_ass
        from media_fixtures import format_ass

        assert parse_ass(format_ass(self.CUES)) == self.CUES

    def test_real_world_features(self):
        """Override blocks, Comment rows, actor field, commas inside the
        Text field, \\N/\\n/\\h escapes, centisecond times."""
        from graphrag_mrkr_2_spark.functions.subtitles import parse_ass

        ass = (
            "[Script Info]\nTitle: x\n\n"
            "[V4+ Styles]\nFormat: Name, Fontname\nStyle: Default,Arial\n\n"
            "[Events]\n"
            "Format: Layer, Start, End, Style, Actor, MarginL, MarginR, "
            "MarginV, Effect, Text\n"
            "Comment: 0,0:00:00.00,0:00:01.00,Default,,0,0,0,,not a cue\n"
            "Dialogue: 0,0:00:01.00,0:00:02.50,Default,,0,0,0,,"
            "{\\an8}Top {\\i1}text{\\i0} here,with,commas\n"
            "Dialogue: 0,0:01:02.52,0:01:03.00,Default,,0,0,0,,"
            "Soft\\nbreak and\\hspace\n"
        )
        assert parse_ass(ass) == [
            (1000, 2500, "Top text here,with,commas"),
            (62520, 63000, "Soft\nbreak and space"),
        ]

    def test_reordered_format_line(self):
        """Real files reorder Format fields; Start/End/Text are located
        positionally from the declared order."""
        from graphrag_mrkr_2_spark.functions.subtitles import parse_ass

        ass = (
            "[Events]\n"
            "Format: Start, End, Text\n"
            "Dialogue: 0:00:01.00,0:00:02.00,Short format.\n"
        )
        assert parse_ass(ass) == [(1000, 2000, "Short format.")]

    def test_sniff(self):
        from graphrag_mrkr_2_spark.functions.subtitles import sniff_subtitle
        from media_fixtures import format_ass

        assert sniff_subtitle(format_ass(self.CUES).encode()) == "ass"
        assert sniff_subtitle("﻿[script info]\n".encode()) == "ass"

    def test_mkv_ass_track(self):
        """S_TEXT/ASS blocks carry 'ReadOrder,Layer,Style,...,Text' —
        times come from the container, overrides stripped."""
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mkv_subtitle_cues,
            mux_mkv_subtitles,
        )

        payload_cues = [
            (1000, 2500, "0,0,Default,,0,0,0,,{\\an8}Styled, text"),
            (3000, 4000, "1,0,Default,,0,0,0,,Plain\\Nsecond line"),
        ]
        with mock.patch.object(subtitles, "MKV_SUBTITLE_CODEC", b"S_TEXT/ASS"):
            mkv = mux_mkv_subtitles(payload_cues)
        assert mkv_subtitle_cues(mkv) == [
            (1000, 2500, "Styled, text"),
            (3000, 4000, "Plain\nsecond line"),
        ]

    def test_operator_dispatches_ass(self, spark):
        from media_fixtures import format_ass
        from graphrag_mrkr_2_spark.operators.multimodal import (
            extract_subtitle_text,
        )

        df = spark.createDataFrame(
            [("ass0", format_ass(self.CUES).encode())],
            "media_id string, payload binary",
        )
        rows = extract_subtitle_text(df, strict=True).collect()
        got = [(r["start_ms"], r["end_ms"], r["text"]) for r in rows]
        assert got == self.CUES


class TestProbeMediaSubtitles:
    def test_probe_classifies_subtitle_scripts(self):
        from graphrag_mrkr_2_spark.functions.subtitles import format_srt
        from media_fixtures import format_ass
        from graphrag_mrkr_2_spark.operators.multimodal import probe_media

        assert probe_media(format_srt(CUES).encode())["kind"] == "subtitle"
        assert probe_media(format_srt(CUES).encode())["codec"] == "srt"
        assert probe_media(format_ass(CUES).encode())["codec"] == "ass"
        vtt = b"WEBVTT\n\n00:00.000 --> 00:01.000\nx\n"
        assert probe_media(vtt)["codec"] == "webvtt"
        assert probe_media(b"random bytes")["kind"] is None


class TestAssReviewRegressions:
    def test_leading_comment_banner_sniffs(self):
        from graphrag_mrkr_2_spark.functions.subtitles import sniff_subtitle

        payload = b"; Script generated by SSA v4\n; more banner\n" \
                  b"[Script Info]\nTitle: x\n"
        assert sniff_subtitle(payload) == "ass"

    def test_drawing_mode_lines_dropped(self):
        from graphrag_mrkr_2_spark.functions.subtitles import parse_ass

        ass = ("[Events]\nFormat: Start, End, Text\n"
               "Dialogue: 0:00:01.00,0:00:02.00,"
               "{\\p1}m 0 0 l 100 0 100 100{\\p0}\n"
               "Dialogue: 0:00:03.00,0:00:04.00,real text\n")
        assert parse_ass(ass) == [(3000, 4000, "real text")]

    def test_long_override_block_stripped(self):
        from graphrag_mrkr_2_spark.functions.subtitles import parse_ass

        ass = ("[Events]\nFormat: Start, End, Text\n"
               "Dialogue: 0:00:01.00,0:00:02.00,{\\t("
               + "x" * 600 + ")}visible\n")
        assert parse_ass(ass) == [(1000, 2000, "visible")]

    def test_malformed_mkv_ass_block_skipped(self):
        """A block with fewer than 9 fields must not leak a style name
        into the cue text."""
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mkv_subtitle_cues,
            mux_mkv_subtitles,
        )

        with mock.patch.object(subtitles, "MKV_SUBTITLE_CODEC", b"S_TEXT/ASS"):
            mkv = mux_mkv_subtitles([(0, 1000, "12,0,Default")])
        assert mkv_subtitle_cues(mkv) == []


class TestChapters:
    CHS = [(0, "Opening"), (90_000, "Part One"),
           (3_600_000, "Finale — The End")]

    def test_mkv_roundtrip(self):
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mkv_chapters,
            mux_mkv_chapters,
        )

        assert mkv_chapters(mux_mkv_chapters(self.CHS)) == self.CHS

    def test_mp4_roundtrip(self):
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mp4_chapters,
            mux_mp4_chapters,
        )

        assert mp4_chapters(mux_mp4_chapters(self.CHS)) == self.CHS

    def test_mp4_without_chpl(self):
        from graphrag_mrkr_2_spark.functions.mp4mux import mux_mp4_video
        from graphrag_mrkr_2_spark.functions.subtitles import mp4_chapters

        assert mp4_chapters(
            mux_mp4_video([b"x"], 8, 8, "hvc1", b"\x01" * 23)) == []

    def test_truncated_chpl_raises(self):
        import struct

        from graphrag_mrkr_2_spark.functions.subtitles import (
            mp4_chapters,
            mux_mp4_chapters,
        )

        mp4 = bytearray(mux_mp4_chapters(self.CHS))
        pos = bytes(mp4).find(b"chpl") + 4 + 8  # count byte
        mp4[pos] = 200  # claim 200 chapters, entries run out
        with pytest.raises(ValueError):
            mp4_chapters(bytes(mp4))

    def test_title_too_long_rejected_by_mux(self):
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mux_mp4_chapters,
        )

        with pytest.raises(ValueError):
            mux_mp4_chapters([(0, "x" * 300)])

    def test_operator_both_containers_and_quarantine(self, spark):
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mux_mkv_chapters,
            mux_mp4_chapters,
        )
        from graphrag_mrkr_2_spark.operators.multimodal import (
            extract_chapter_text,
        )

        df = spark.createDataFrame(
            [
                ("mkv0", mux_mkv_chapters(self.CHS)),
                ("mp40", mux_mp4_chapters(self.CHS)),
                ("bad0", b"\x00nope"),
            ],
            "media_id string, payload binary",
        )
        rows = extract_chapter_text(df).collect()
        by_id: dict = {}
        for r in rows:
            by_id.setdefault(r["media_id"], []).append(
                (r["start_ms"], r["title"]))
        assert by_id["mkv0"] == self.CHS
        assert by_id["mp40"] == self.CHS
        assert "bad0" not in by_id


class TestChapterRegressions:
    def test_mux_mp4_chapters_accepts_generator(self):
        from graphrag_mrkr_2_spark.functions.subtitles import (
            mp4_chapters,
            mux_mp4_chapters,
        )

        gen = ((ms, t) for ms, t in [(0, "Intro"), (1000, "Body")])
        assert mp4_chapters(mux_mp4_chapters(gen)) == [
            (0, "Intro"), (1000, "Body")]

    def test_strict_tolerates_chapterless_containers(self, spark):
        """A well-formed MP4 with no chpl box is zero rows, not an
        error — even under strict (matches extract_subtitle_text's
        zero-cue behavior)."""
        from graphrag_mrkr_2_spark.functions.mp4mux import mux_mp4_video
        from graphrag_mrkr_2_spark.operators.multimodal import (
            extract_chapter_text,
        )

        df = spark.createDataFrame(
            [("v0", mux_mp4_video([b"x"], 8, 8, "hvc1", b"\x01" * 23))],
            "media_id string, payload binary",
        )
        assert extract_chapter_text(df, strict=True).collect() == []
