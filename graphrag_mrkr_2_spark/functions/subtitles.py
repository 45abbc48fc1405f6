"""Subtitle/caption text extraction: SRT, WebVTT, SSA/ASS, Matroska
subtitle tracks, and MP4 tx3g timed text.

Subtitles are prime training text hiding inside crawl video — an
LLM-data pipeline that drops them throws away exactly the
human-transcribed speech it wants. The reference repo has no media text
path at all (its loaders are documents and OCR'd images only:
``ingestion/loaders/``); this backs the LLM-pipeline brief's multimodal
leg on the TEXT side the way hevccodec/av1codec back it on pixels.

Pure-stdlib parsers (the formats are line-oriented text), hardened for
crawl reality: BOM/CRLF tolerance, out-of-order or overlapping cues kept
as-is (downstream dedups), malformed cue blocks skipped rather than
fatal, a cue cap against adversarial megafiles. The MKV leg walks
S_TEXT/UTF8, S_TEXT/WEBVTT, S_TEXT/ASCII and S_TEXT/ASS|SSA subtitle
tracks (TrackType 0x11) — timestamps come from the container blocks,
durations from BlockGroup BlockDuration; the MP4 leg reads 3GPP tx3g
timed-text samples (functions/mp4mux.py).
"""

from __future__ import annotations

import re

MAX_CUES = 100_000  # one row's fan-out bound (same spirit as frame caps)

_TS_SRT = re.compile(
    r"(\d{1,4}):(\d{2}):(\d{2})[,.](\d{1,3})\s*-->\s*"
    r"(\d{1,4}):(\d{2}):(\d{2})[,.](\d{1,3})")
# WebVTT allows MM:SS.mmm (hours optional)
_TS_VTT = re.compile(
    r"(?:(\d{1,4}):)?(\d{1,2}):(\d{2})\.(\d{3})\s*-->\s*"
    r"(?:(\d{1,4}):)?(\d{1,2}):(\d{2})\.(\d{3})")
_VTT_TAG = re.compile(  # ONLY real cue markup: named tags + <hh:mm:…>
    r"</?(?:v|i|b|u|c|ruby|rt|lang)(?:[.\t ][^>\n]{0,200})?>"
    r"|<\d{1,4}:\d{2}[^>\n]{0,30}>")


def _srt_ms(h, m, s, frac) -> int:
    return ((int(h) * 60 + int(m)) * 60 + int(s)) * 1000 + int(frac.ljust(3, "0"))


def _vtt_ms(h, m, s, frac) -> int:
    return ((int(h or 0) * 60 + int(m)) * 60 + int(s)) * 1000 + int(frac)


def sniff_subtitle(payload: bytes):
    """'webvtt' / 'srt' / 'ass' / None from the leading bytes (crawl
    routing)."""
    head = payload[:4096].lstrip(b"\xef\xbb\xbf \r\n")
    if head.startswith(b"WEBVTT"):
        return "webvtt"
    # ASS/SSA: '[Script Info]' possibly preceded by ';' comment lines
    # (Sub Station Alpha's own generator writes a comment banner first)
    probe_lines = head.decode("utf-8", "replace").splitlines()[:8]
    for ln in probe_lines:
        ln = ln.strip()
        if not ln or ln.startswith(";"):
            continue
        if ln.lower().startswith("[script info]"):
            return "ass"
        break
    try:
        text = head.decode("utf-8", "replace")
    except Exception:
        return None
    # SRT: an index line then a timing line within the first few lines
    lines = [ln.strip() for ln in text.splitlines()[:8]]
    for i, ln in enumerate(lines[:-1]):
        if ln.isdigit() and _TS_SRT.match(lines[i + 1]):
            return "srt"
        if _TS_SRT.match(ln):
            return "srt"  # index-less SRT variants exist in crawls
    return None


def parse_srt(text: str) -> list:
    """SRT → ``[(start_ms, end_ms, cue_text), ...]`` in file order.

    Tolerates missing/non-numeric index lines, CRLF, BOM, and blank-line
    run variations; a block without a parseable timing line is skipped
    (malformed crawl cue), never fatal."""
    cues = []
    block: list = []
    for raw in text.lstrip("﻿").splitlines() + [""]:
        line = raw.rstrip("\r")
        if line.strip():
            block.append(line)
            continue
        if block:
            _emit_srt_block(block, cues)
            block = []
        if len(cues) >= MAX_CUES:
            break
    return cues[:MAX_CUES]


def _emit_srt_block(block: list, cues: list) -> None:
    ts_idx = None
    for i, line in enumerate(block[:3]):
        if _TS_SRT.match(line.strip()):
            ts_idx = i
            break
    if ts_idx is None:
        return
    m = _TS_SRT.match(block[ts_idx].strip())
    start = _srt_ms(m.group(1), m.group(2), m.group(3), m.group(4))
    end = _srt_ms(m.group(5), m.group(6), m.group(7), m.group(8))
    body = "\n".join(block[ts_idx + 1:]).strip()
    if body:
        cues.append((start, end, body))


# Fixture and parser settings no product caller varies; tests patch them.
WEBVTT_STRIP_TAGS = True
MKV_SUBTITLE_CODEC = b"S_TEXT/UTF8"
MKV_SUBTITLE_TRACK = 1


def parse_webvtt(text: str) -> list:
    """WebVTT → ``[(start_ms, end_ms, cue_text), ...]``.

    Handles the WEBVTT header line (with optional trailing metadata),
    NOTE/STYLE/REGION blocks (skipped), optional cue identifiers, cue
    settings after the timing line, and voice/class markup
    (``<v Name>``, ``<i>``, ``<c.x>``) stripped while ``WEBVTT_STRIP_TAGS``
    — the text is the training payload, the styling is not."""
    lines = text.lstrip("﻿").splitlines()
    hdr = 0  # sniff_subtitle tolerates leading blank lines; match it here
    while hdr < len(lines) and not lines[hdr].strip():
        hdr += 1
    if hdr >= len(lines) or not lines[hdr].strip().startswith("WEBVTT"):
        raise ValueError("not a WebVTT file (missing WEBVTT header)")
    cues = []
    i = hdr + 1
    n = len(lines)
    while i < n and len(cues) < MAX_CUES:
        line = lines[i].rstrip("\r")
        stripped = line.strip()
        if not stripped:
            i += 1
            continue
        if any(stripped == kw or stripped.startswith(kw + " ")
               or stripped.startswith(kw + "\t")
               for kw in ("NOTE", "STYLE", "REGION")):
            i += 1
            while i < n and lines[i].strip():
                i += 1
            continue
        # optional cue id line (anything without -->) before the timing
        m = _TS_VTT.match(stripped)
        if m is None and "-->" not in stripped:
            i += 1
            if i >= n:
                break
            stripped = lines[i].strip()
            m = _TS_VTT.match(stripped)
        if m is None:
            i += 1  # malformed cue header: skip the line, keep scanning
            continue
        start = _vtt_ms(m.group(1), m.group(2), m.group(3), m.group(4))
        end = _vtt_ms(m.group(5), m.group(6), m.group(7), m.group(8))
        i += 1
        body_lines = []
        while i < n and lines[i].strip():
            body_lines.append(lines[i].rstrip("\r"))
            i += 1
        body = "\n".join(body_lines).strip()
        if WEBVTT_STRIP_TAGS:
            body = _VTT_TAG.sub("", body)
        if body:
            cues.append((start, end, body))
    return cues


def mkv_subtitle_cues(data: bytes) -> list:
    """Cues from the FIRST subtitle track (TrackType 0x11, CodecID
    S_TEXT/UTF8, S_TEXT/WEBVTT or S_TEXT/ASCII) of a Matroska/WebM file:
    ``[(start_ms, end_ms, text), ...]``. Rides the shared two-pass walker
    (mediaprobe.mkv_track_blocks), so the legal Tracks-after-Cluster
    ordering and all-ones track numbers both work; laced blocks are
    SKIPPED (cues are independent — one malformed block must not void a
    file of good cues). Timestamps come from the container; durations
    from BlockGroup BlockDuration (0 for bare SimpleBlocks)."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import mkv_track_blocks

    track, blocks = mkv_track_blocks(
        data, want_type=0x11,
        codec_filter=lambda c: c in (b"S_TEXT/UTF8", b"S_TEXT/WEBVTT",
                                     b"S_TEXT/ASCII", b"S_TEXT/ASS",
                                     b"S_TEXT/SSA"),
        on_laced="skip")
    if track is None:
        raise ValueError("MKV: no text subtitle track")
    cues = []
    for start, _key, dur, payload in blocks:
        text = payload.decode("utf-8", "replace")
        if track["codec"] == b"S_TEXT/WEBVTT":
            text = _VTT_TAG.sub("", text)
        elif track["codec"] in (b"S_TEXT/ASS", b"S_TEXT/SSA"):
            # MKV ASS block payload: "ReadOrder,Layer,Style,Name,
            # MarginL,MarginR,MarginV,Effect,Text" — times come from the
            # container, the Text field is the last of 9. A block with
            # fewer fields is malformed: skip it rather than emitting a
            # style/actor name as cue text (parse_ass does the same).
            parts = text.split(",", 8)
            if len(parts) < 9:
                continue
            text = _ass_text(parts[8])
        text = text.strip()
        if text:
            cues.append((int(start), int(start + dur), text))
        if len(cues) >= MAX_CUES:
            break
    return cues


def format_srt(cues) -> str:
    """Cues → SRT text (fixture/oracle path — parse_srt reads it back)."""

    def _ts(ms: int) -> str:
        h, rem = divmod(ms, 3_600_000)
        m, rem = divmod(rem, 60_000)
        s, frac = divmod(rem, 1000)
        return f"{h:02d}:{m:02d}:{s:02d},{frac:03d}"

    blocks = []
    for i, (start, end, text) in enumerate(cues, 1):
        blocks.append(f"{i}\n{_ts(start)} --> {_ts(end)}\n{text}\n")
    return "\n".join(blocks)


def mux_mkv_subtitles(cues) -> bytes:
    """Wrap cues into a minimal Matroska file with one subtitle track of
    codec ``MKV_SUBTITLE_CODEC`` (fixture/oracle path —
    ``mkv_subtitle_cues`` reads it back): each cue a BlockGroup{Block,
    BlockDuration} so durations round-trip, one cluster per cue (absolute
    time in the cluster base — in-block relative timestamps are signed
    16-bit), 1 ms TimestampScale. ``MKV_SUBTITLE_TRACK`` up to 127
    exercises the all-ones vint edge (0xFF)."""
    if not 1 <= int(MKV_SUBTITLE_TRACK) <= 127:
        raise ValueError("track number must fit a 1-byte vint (1..127)")
    import struct

    from graphrag_mrkr_2_spark.functions.av1codec import (
        _el,
        _uint_payload,
        ebml_header,
    )

    ebml = ebml_header(b"matroska")
    total = max((end for _, end, _ in cues), default=0)
    info = _el(0x1549A966, b"".join([
        _el(0x2AD7B1, _uint_payload(1_000_000)),
        _el(0x4489, struct.pack(">d", float(total))),
    ]))
    tracks = _el(0x1654AE6B, _el(0xAE, b"".join([
        _el(0xD7, _uint_payload(int(MKV_SUBTITLE_TRACK))),
        _el(0x73C5, _uint_payload(1)),
        _el(0x83, _uint_payload(0x11)),       # TrackType: subtitle
        _el(0x86, bytes(MKV_SUBTITLE_CODEC)),
    ])))
    # one Cluster PER CUE with the cluster base carrying the absolute
    # time: the in-block relative timestamp is a SIGNED 16-bit int, so a
    # single cluster at base 0 overflows for any cue past 32.767 s —
    # and real subtitles start minutes into the video
    clusters = []
    for start, end, text in cues:
        if start < 0:
            raise ValueError("negative cue start")
        block = bytes([0x80 | int(MKV_SUBTITLE_TRACK)]) + struct.pack(">h", 0) \
            + b"\x00" + text.encode("utf-8")
        group = _el(0xA0, b"".join([          # BlockGroup
            _el(0xA1, block),                 # Block
            _el(0x9B, _uint_payload(max(0, end - start))),  # BlockDuration
        ]))
        clusters.append(
            _el(0x1F43B675, _el(0xE7, _uint_payload(start)) + group))
    return ebml + _el(0x18538067, info + tracks + b"".join(clusters))


def mp4_subtitle_cues(data: bytes) -> list:
    """Cues from the FIRST 3GPP timed-text (tx3g) track of an MP4:
    ``[(start_ms, end_ms, text), ...]``. Samples are ``u16 length +
    UTF-8 text``; empty samples are the spec's gap encoding and are
    skipped; (start, end) comes from the stts timestamps + per-sample
    durations (functions/mp4mux.mp4_text_track_info)."""
    import struct

    from graphrag_mrkr_2_spark.functions.mp4mux import mp4_text_track_info

    info = mp4_text_track_info(data)
    cues = []
    for (ts, _key, payload), dur in zip(info["samples"],
                                        info["durations_ms"]):
        if len(payload) < 2:
            continue  # malformed sample: skip, keep the rest
        (n,) = struct.unpack_from(">H", payload, 0)
        text = payload[2:2 + n].decode("utf-8", "replace").strip()
        if text:
            cues.append((int(ts), int(ts + dur), text))
        if len(cues) >= MAX_CUES:
            break
    return cues


_ASS_TS = re.compile(r"(\d+):(\d{2}):(\d{2})[.:](\d{2})")
_ASS_OVERRIDE = re.compile(r"\{[^{}]*\}")  # {\an8\pos(...)} override blocks
_ASS_DRAWING = re.compile(r"\{[^{}]*\\p[1-9]")  # {\p1..}: vector drawing mode


def _ass_text(raw: str) -> str:
    r"""Shared ASS Text-field cleanup (standalone Dialogue lines AND MKV
    S_TEXT/ASS block payloads): drawing-mode lines ({\p1} vector paths —
    sign typesetting, not speech) drop entirely, override blocks strip,
    \N/\n hard/soft breaks become newlines and \h a space."""
    if _ASS_DRAWING.search(raw):
        return ""
    raw = _ASS_OVERRIDE.sub("", raw)
    return raw.replace("\\N", "\n").replace("\\n", "\n") \
              .replace("\\h", " ").strip()


def parse_ass(text: str) -> list:
    """SSA/ASS (Sub Station Alpha) → ``[(start_ms, end_ms, cue_text),
    ...]`` in file order — the dominant fansub format on the crawl.

    Reads the [Events] section's Format: line to locate the Start/End/
    Text fields positionally (real files reorder and add fields), then
    parses Dialogue: lines: H:MM:SS.cc timestamps (centiseconds), the
    Text field joined across its commas, override blocks ``{\\...}``
    stripped, ``\\N``/``\\n`` hard/soft breaks to newlines, ``\\h`` to
    space. Comment: lines and malformed rows are skipped, never fatal."""
    cues = []
    fmt = None  # field name -> index, from the [Events] Format: line
    in_events = False
    for raw in text.lstrip("﻿").splitlines():
        line = raw.strip()
        if not line:
            continue
        if line.startswith("["):
            in_events = line.lower().startswith("[events")
            continue
        if not in_events:
            continue
        low = line.lower()
        if low.startswith("format:"):
            fields = [f.strip().lower() for f in line[7:].split(",")]
            fmt = {name: i for i, name in enumerate(fields)}
            continue
        if not low.startswith("dialogue:"):
            continue
        field_map = fmt or {"layer": 0, "start": 1, "end": 2, "style": 3,
                            "name": 4, "marginl": 5, "marginr": 6,
                            "marginv": 7, "effect": 8, "text": 9}
        n_fields = max(field_map.values()) + 1
        parts = line[9:].split(",", n_fields - 1)
        if len(parts) < n_fields:
            continue  # malformed row: skip
        try:
            ms = _ASS_TS.match(parts[field_map["start"]].strip())
            me = _ASS_TS.match(parts[field_map["end"]].strip())
            if not ms or not me:
                continue
            start = ((int(ms.group(1)) * 60 + int(ms.group(2))) * 60
                     + int(ms.group(3))) * 1000 + int(ms.group(4)) * 10
            end = ((int(me.group(1)) * 60 + int(me.group(2))) * 60
                   + int(me.group(3))) * 1000 + int(me.group(4)) * 10
        except (KeyError, ValueError):
            continue
        body = _ass_text(parts[field_map.get("text", n_fields - 1)])
        if body:
            cues.append((start, end, body))
        if len(cues) >= MAX_CUES:
            break
    return cues


def mkv_chapters(data: bytes) -> list:
    """Chapter titles from a Matroska Chapters element →
    ``[(start_ms, title), ...]``: Segment → Chapters → EditionEntry →
    ChapterAtom walk reading ChapterTimeStart (ns) and the first
    ChapterDisplay's ChapString. Chapter titles are edited, human-written
    structure text — the table-of-contents of crawl video."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import (
        _ebml_uint,
        _walk_ebml,
        sniff_mkv,
    )

    if not sniff_mkv(data):
        raise ValueError("not a Matroska/WebM file")
    out = []
    for eid, ps, pe in _walk_ebml(data, 0, len(data)):
        if eid != 0x18538067:  # Segment
            continue
        for seid, sps, spe in _walk_ebml(data, ps, pe):
            if seid != 0x1043A770:  # Chapters
                continue
            for eeid, eps, epe in _walk_ebml(data, sps, spe):
                if eeid != 0x45B9:  # EditionEntry
                    continue
                for aid, aps, ape in _walk_ebml(data, eps, epe):
                    if aid != 0xB6:  # ChapterAtom
                        continue
                    start_ns, title = 0, None
                    for fid, fps, fpe in _walk_ebml(data, aps, ape):
                        if fid == 0x91:  # ChapterTimeStart (ns)
                            start_ns = _ebml_uint(data, fps, fpe) or 0
                        elif fid == 0x80 and title is None:  # ChapterDisplay
                            for did, dps, dpe in _walk_ebml(data, fps, fpe):
                                if did == 0x85:  # ChapString
                                    title = data[dps:dpe].decode(
                                        "utf-8", "replace").strip()
                                    break
                    if title:
                        out.append((int(start_ns // 1_000_000), title))
    return out


def mux_mkv_chapters(chapters) -> bytes:
    """Fixture twin of ``mkv_chapters``: a minimal Matroska file whose
    Segment carries only a Chapters element."""
    from graphrag_mrkr_2_spark.functions.av1codec import (
        _el,
        _uint_payload,
        ebml_header,
    )

    ebml = ebml_header(b"matroska")
    atoms = []
    for i, (start_ms, title) in enumerate(chapters, 1):
        atoms.append(_el(0xB6, b"".join([      # ChapterAtom
            _el(0x73C4, _uint_payload(i)),     # ChapterUID
            _el(0x91, _uint_payload(start_ms * 1_000_000)),
            _el(0x80, b"".join([               # ChapterDisplay
                _el(0x85, title.encode("utf-8")),        # ChapString
                _el(0x437C, b"und"),                     # ChapLanguage
            ])),
        ])))
    edition = _el(0x45B9, b"".join(
        [_el(0x45BC, _uint_payload(1))] + atoms))  # EditionUID + atoms
    chapters_el = _el(0x1043A770, edition)
    return ebml + _el(0x18538067, chapters_el)


def mp4_chapters(data: bytes) -> list:
    """Nero chapter list (``moov/udta/chpl``) → ``[(start_ms, title),
    ...]``: version-1 FullBox, u32 reserved, u8 count, then per chapter
    a u64 start in 100 ns units + u8 title length + UTF-8 title."""
    import struct

    from graphrag_mrkr_2_spark.functions.mediaprobe import (
        _find_box,
        sniff_mp4,
    )

    if not sniff_mp4(data):
        raise ValueError("not an MP4 (no ftyp box)")
    chpl = _find_box(data, 0, len(data), (b"moov", b"udta", b"chpl"))
    if chpl is None:
        return []
    ps, pe = chpl
    if pe - ps < 9:
        raise ValueError("MP4: chpl box truncated")
    count = data[ps + 8]
    pos = ps + 9
    out = []
    for _ in range(count):
        if pos + 9 > pe:
            raise ValueError("MP4: chpl entry truncated")
        (start_100ns,) = struct.unpack_from(">Q", data, pos)
        tlen = data[pos + 8]
        pos += 9
        if pos + tlen > pe:
            raise ValueError("MP4: chpl title overruns box")
        title = data[pos:pos + tlen].decode("utf-8", "replace").strip()
        pos += tlen
        if title:
            out.append((int(start_100ns // 10_000), title))
    return out


def mux_mp4_chapters(chapters) -> bytes:
    """Fixture twin of ``mp4_chapters``: ftyp + moov/udta/chpl."""
    import struct

    def _box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    chapters = list(chapters)  # count AND iterate: a generator input
    # must not be exhausted by the count byte (review r6)
    body = struct.pack(">I", 0x01000000)  # version 1, flags 0
    body += struct.pack(">I", 0)          # reserved
    body += bytes([len(chapters)])
    for start_ms, title in chapters:
        enc = title.encode("utf-8")
        if len(enc) > 255:
            raise ValueError("chapter title exceeds the u8 length bound")
        body += struct.pack(">Q", start_ms * 10_000) + bytes([len(enc)]) + enc
    chpl_box = _box(b"chpl", body)
    moov = _box(b"moov", _box(b"udta", chpl_box))
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isom")
    return ftyp + moov
