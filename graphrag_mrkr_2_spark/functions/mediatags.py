"""Text metadata extraction from media containers: ID3v2, Vorbis
comments (Ogg Opus/Vorbis + FLAC), MP4 ilst, Matroska Tags.

Titles, artists, albums, comments and above all LYRICS are human-written
text riding inside crawl audio/video — the companion to
``functions/subtitles.py`` on the audio side. Sample DECODE for these
formats stays the documented codec seam (no decoder library
in-container, SCALE.md), but their text payloads are plain header
structures this module parses for real:

- ID3v2.2/2.3/2.4 frames (ISO-less de-facto spec): syncsafe/plain
  sizes, all four text encodings (latin-1, UTF-16 BOM, UTF-16BE,
  UTF-8), TIT2/TPE1/TALB (v2.2: TT2/TP1/TAL) text frames, COMM/COM
  comments and USLT/ULT unsynchronized lyrics with their language +
  descriptor prefixes, whole-tag and per-frame unsynchronisation.
- Vorbis comment blocks (the Xiph spec): ``OpusTags`` / ``\\x03vorbis``
  packets inside Ogg page streams (page payloads concatenated — the
  comment structure is internally length-prefixed so lacing boundaries
  don't matter) and FLAC VORBIS_COMMENT metadata blocks.
- MP4 ``moov/udta/meta/ilst`` atoms (©nam/©ART/©alb/©cmt/©lyr),
  honoring meta's FullBox header.
- Matroska ``Tags`` elements (Tag → SimpleTag {TagName, TagString}).

Every parser is defensive (bounds-checked; malformed → ValueError or
empty dict) and output is normalized to one key set:
``title, artist, album, comment, lyrics``. Fixture builders write each
container so round-trip oracles need no external files. The reference
repo has no audio/video ingestion at all.
"""

from __future__ import annotations

import struct

NORMALIZED_KEYS = ("title", "artist", "album", "comment", "lyrics")

_ID3_TEXT_MAP = {b"TIT2": "title", b"TPE1": "artist", b"TALB": "album"}
_VORBIS_MAP = {"title": "title", "artist": "artist", "album": "album",
               "comment": "comment", "description": "comment",
               "lyrics": "lyrics", "unsyncedlyrics": "lyrics"}
_ILST_MAP = {b"\xa9nam": "title", b"\xa9ART": "artist",
             b"\xa9alb": "album", b"\xa9cmt": "comment",
             b"\xa9lyr": "lyrics"}

_MAX_TAG_BYTES = 1 << 20  # one adversarial header must not balloon a row


def _decode_id3_text(enc: int, raw: bytes) -> str:
    if enc == 0:
        return raw.decode("latin-1", "replace")
    if enc == 1:
        return raw.decode("utf-16", "replace")  # BOM-led
    if enc == 2:
        return raw.decode("utf-16-be", "replace")
    if enc == 3:
        return raw.decode("utf-8", "replace")
    raise ValueError(f"ID3: unknown text encoding {enc}")


def _id3_terminator(enc: int) -> bytes:
    return b"\x00\x00" if enc in (1, 2) else b"\x00"


def _syncsafe(data: bytes, pos: int) -> int:
    """4-byte syncsafe integer (7 data bits per byte) at ``pos``."""
    return ((data[pos] & 0x7F) << 21) | ((data[pos + 1] & 0x7F) << 14) \
        | ((data[pos + 2] & 0x7F) << 7) | (data[pos + 3] & 0x7F)


_ID3V22_TEXT_MAP = {b"TT2": "title", b"TP1": "artist", b"TAL": "album"}


def _extract_id3v22(data: bytes, flags: int, end: int) -> dict:
    """ID3v2.2: 3-byte frame IDs + 3-byte plain sizes (TT2/TP1/TAL text,
    COM comments, ULT lyrics) — old iTunes/Winamp rips in crawls still
    carry these. Whole-tag unsynchronisation per the v2.2 spec; a
    compressed tag (flag 0x40) is skipped whole, as the spec directs —
    walking compressed bytes as frames would emit binary garbage."""
    if flags & 0x40:
        return {}
    body = data[10:end]
    if flags & 0x80:
        body = body.replace(b"\xff\x00", b"\xff")
    pos, bend = 0, len(body)
    out: dict = {}
    while pos + 6 <= bend:
        fid = body[pos:pos + 3]
        if fid == b"\x00\x00\x00":
            break  # padding
        fsize = int.from_bytes(body[pos + 3:pos + 6], "big")
        bs, be = pos + 6, pos + 6 + fsize
        if fsize == 0 or be > bend:
            break
        frame = body[bs:be]
        key = _ID3V22_TEXT_MAP.get(fid)
        if key and len(frame) >= 1:
            try:
                text = _decode_id3_text(frame[0], frame[1:]).split("\x00")[0]
            except ValueError:
                text = None
            if text:
                out.setdefault(key, text.strip("\x00").strip())
        elif fid in (b"COM", b"ULT") and len(frame) >= 4:
            enc = frame[0]
            rest = frame[4:]  # encoding + 3-byte language
            term = _id3_terminator(enc)
            idx = rest.find(term)
            if idx >= 0 and enc in (1, 2):
                idx += idx % 2  # keep UTF-16 code-unit alignment
            raw = rest[idx + len(term):] if idx >= 0 else rest
            try:
                text = _decode_id3_text(enc, raw).strip("\x00").strip()
            except ValueError:
                text = None
            if text:
                out.setdefault("comment" if fid == b"COM" else "lyrics",
                               text)
        pos = be
    return out


def extract_id3v2(data: bytes) -> dict:
    """Normalized tag dict from a leading ID3v2.2/2.3/2.4 header, {} when
    no tag is present. Unsynchronisation is undone where it applies —
    whole-tag for v2.2/v2.3 (sizes there count the de-unsynced data, so
    the tag body is de-stuffed before frame parsing, the mutagen
    approach), per-frame for v2.4 (format flag 0x02, plus the optional
    data-length indicator 0x01)."""
    if len(data) < 10 or data[:3] != b"ID3":
        return {}
    version = data[3]
    if version == 2:
        return _extract_id3v22(
            data, data[5], min(10 + _syncsafe(data, 6), len(data),
                               _MAX_TAG_BYTES))
    if version not in (3, 4):
        return {}
    flags = data[5]
    size = _syncsafe(data, 6)
    end = min(10 + size, len(data), _MAX_TAG_BYTES)
    body = data[10:end]
    if version == 3 and flags & 0x80:
        # v2.3 unsync applies to the whole tag: 0xFF 0x00 -> 0xFF
        body = body.replace(b"\xff\x00", b"\xff")
    pos = 0
    end = len(body)
    if flags & 0x40:  # extended header
        if pos + 4 > end:
            return {}
        if version == 4:  # syncsafe, includes itself
            pos += _syncsafe(body, pos)
        else:  # v2.3: size excludes the 4 size bytes
            pos += 4 + struct.unpack_from(">I", body, pos)[0]
    out: dict = {}
    while pos + 10 <= end:
        fid = body[pos:pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        if version == 4:
            fsize = _syncsafe(body, pos + 4)
        else:
            (fsize,) = struct.unpack_from(">I", body, pos + 4)
        fflags = body[pos + 9]  # frame FORMAT flags byte
        body_start = pos + 10
        body_end = body_start + fsize
        if fsize == 0 or body_end > end:
            break  # malformed frame: stop, keep what parsed
        data_frame = body[body_start:body_end]
        if version == 4:
            if fflags & 0x01:  # data-length indicator: 4 syncsafe bytes
                data_frame = data_frame[4:]
            if fflags & 0x02:  # per-frame unsynchronisation
                data_frame = data_frame.replace(b"\xff\x00", b"\xff")
        key = _ID3_TEXT_MAP.get(fid)
        if key and len(data_frame) >= 1:
            enc = data_frame[0]
            try:
                text = _decode_id3_text(enc, data_frame[1:]).split("\x00")[0]
            except ValueError:
                text = None
            if text:
                out.setdefault(key, text.strip("\x00").strip())
        elif fid in (b"COMM", b"USLT") and len(data_frame) >= 4:
            enc = data_frame[0]
            # encoding + 3-byte language + terminated descriptor + text
            rest = data_frame[4:]
            term = _id3_terminator(enc)
            idx = rest.find(term)
            if idx >= 0:
                step = len(term)
                if enc in (1, 2):  # keep UTF-16 code-unit alignment
                    idx = idx + (idx % 2)
                text_raw = rest[idx + step:]
            else:
                text_raw = rest
            try:
                text = _decode_id3_text(enc, text_raw).strip("\x00").strip()
            except ValueError:
                text = None
            if text:
                out.setdefault(
                    "comment" if fid == b"COMM" else "lyrics", text)
        pos = body_end
    return out


def _parse_vorbis_comment(body: bytes) -> dict:
    """The Xiph comment structure: vendor + KEY=value list (all LE)."""
    if len(body) < 8 or len(body) > _MAX_TAG_BYTES:
        raise ValueError("vorbis comment block out of bounds")
    (vlen,) = struct.unpack_from("<I", body, 0)
    pos = 4 + vlen
    if pos + 4 > len(body):
        raise ValueError("vorbis comment: vendor overruns block")
    (count,) = struct.unpack_from("<I", body, pos)
    pos += 4
    if count > 10_000:
        raise ValueError("vorbis comment: implausible field count")
    out: dict = {}
    for _ in range(count):
        if pos + 4 > len(body):
            raise ValueError("vorbis comment: truncated field length")
        (flen,) = struct.unpack_from("<I", body, pos)
        pos += 4
        if pos + flen > len(body):
            raise ValueError("vorbis comment: field overruns block")
        field = body[pos:pos + flen].decode("utf-8", "replace")
        pos += flen
        eq = field.find("=")
        if eq <= 0:
            continue
        key = _VORBIS_MAP.get(field[:eq].lower())
        val = field[eq + 1:].strip()
        if key and val:
            out.setdefault(key, val)
    return out


def extract_flac_comments(data: bytes) -> dict:
    """VORBIS_COMMENT metadata block (type 4) of a FLAC file, {} when the
    file carries none."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC file")
    pos = 4
    while pos + 4 <= len(data):
        hdr = data[pos]
        btype, last = hdr & 0x7F, bool(hdr & 0x80)
        (blen,) = struct.unpack(">I", b"\x00" + data[pos + 1:pos + 4])
        body_start = pos + 4
        if body_start + blen > len(data):
            raise ValueError("FLAC: metadata block overruns file")
        if btype == 4:
            return _parse_vorbis_comment(data[body_start:body_start + blen])
        if last:
            break
        pos = body_start + blen
    return {}


def extract_ogg_comments(data: bytes) -> dict:
    """OpusTags / Vorbis comment-header packet from an Ogg stream.

    Page payloads of the FIRST logical stream are concatenated (up to a
    1 MB guard) and scanned for the comment-packet magic; the structure
    is internally length-prefixed, so packet lacing across pages doesn't
    need segment-table reconstruction."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import sniff_ogg

    if not sniff_ogg(data):
        raise ValueError("not an Ogg stream")
    serial = None
    blob = bytearray()
    found = None  # blob offset just past the comment magic
    pos = 0
    n_pages = 0
    while pos + 27 <= len(data):
        if data[pos:pos + 4] != b"OggS":
            break
        nsegs = data[pos + 26]
        seg_table = data[pos + 27:pos + 27 + nsegs]
        if len(seg_table) < nsegs:
            break
        body_start = pos + 27 + nsegs
        body_len = sum(seg_table)
        page_serial = struct.unpack_from("<I", data, pos + 14)[0]
        if serial is None:
            serial = page_serial
        if page_serial == serial:
            blob += data[body_start:body_start + body_len]
            n_pages += 1
            if found is None:
                for magic, skip in ((b"OpusTags", 8), (b"\x03vorbis", 7)):
                    idx = bytes(blob).find(magic)
                    if idx >= 0:
                        found = idx + skip
                        break
            if found is not None:
                # try after every page: the structure is length-prefixed,
                # so it parses as soon as all its bytes arrived — this
                # caps work at "pages up to the comment's end" instead of
                # accumulating the whole (possibly huge) audio stream,
                # and a >1 MB file no longer trips the block-size guard
                # on a tiny valid comment (review r6)
                try:
                    return _parse_vorbis_comment(
                        bytes(blob[found:found + _MAX_TAG_BYTES]))
                except ValueError:
                    pass  # truncated mid-structure: need the next page
            elif n_pages >= 8 or len(blob) > 256 * 1024:
                break  # comment packet is in the first pages per spec
            if found is not None and len(blob) - found > _MAX_TAG_BYTES:
                raise ValueError("vorbis comment block out of bounds")
        pos = body_start + body_len
    if found is not None:
        # magic seen but the structure never parsed: malformed/truncated
        # comment — raise for quarantine rather than claiming "no tags"
        raise ValueError("vorbis comment: truncated or malformed packet")
    return {}


def extract_mp4_tags(data: bytes) -> dict:
    """iTunes-style ilst atoms from moov/udta/meta (meta is a FullBox —
    its children start 4 bytes into the payload)."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import (
        _find_box,
        _walk_boxes,
        sniff_mp4,
    )

    if not sniff_mp4(data):
        raise ValueError("not an MP4 (no ftyp box)")
    meta = _find_box(data, 0, len(data), (b"moov", b"udta", b"meta"))
    if meta is None:
        return {}
    ilst = _find_box(data, meta[0] + 4, meta[1], (b"ilst",))
    if ilst is None:
        return {}
    out: dict = {}
    for atype, as_, ae in _walk_boxes(data, ilst[0], ilst[1]):
        key = _ILST_MAP.get(atype)
        if key is None:
            continue
        for dtype, ds, de in _walk_boxes(data, as_, ae):
            if dtype != b"data" or de - ds < 8:
                continue
            dflags = struct.unpack_from(">I", data, ds)[0] & 0xFFFFFF
            if dflags != 1:  # 1 = UTF-8 text
                continue
            val = data[ds + 8:de].decode("utf-8", "replace").strip()
            if val:
                out.setdefault(key, val)
            break
    return out


def extract_media_tags(payload: bytes) -> dict:
    """Sniff + dispatch: normalized ``{title, artist, album, comment,
    lyrics}`` (missing keys absent) plus ``fmt`` naming the container the
    tags came from. Raises ValueError when no tag-bearing container is
    recognized — callers quarantine per payload."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import (
        sniff_flac,
        sniff_mkv,
        sniff_mp4,
        sniff_ogg,
    )

    if payload[:3] == b"ID3":
        tags = dict(extract_id3v1(payload))  # v1 trailer fills gaps
        tags.update(extract_id3v2(payload))  # v2 wins shared keys
        fmt = "id3"
    elif sniff_flac(payload):
        tags = extract_flac_comments(payload)
        fmt = "flac"
    elif sniff_ogg(payload):
        tags = extract_ogg_comments(payload)
        fmt = "ogg"
    elif sniff_mkv(payload):
        tags = extract_mkv_tags(payload)
        fmt = "mkv"
    elif sniff_mp4(payload):
        tags = extract_mp4_tags(payload)
        fmt = "mp4"
    else:
        # LAST resort, after every container sniff: a bare ID3v1 trailer
        # (an MP3 with no v2 header). Ordering matters — a FLAC/Ogg/MP4
        # with an appended v1 trailer must keep its REAL tags and fmt.
        tags = extract_id3v1(payload)
        if not tags:
            raise ValueError("no tag-bearing media container recognized")
        fmt = "id3"
    tags = dict(tags)
    tags["fmt"] = fmt
    return tags


# ---------------------------------------------------------------------------
# Fixture builders (round-trip oracle path — the parsers read them back)
# ---------------------------------------------------------------------------


def build_id3v2(tags: dict, version: int = 4) -> bytes:
    """ID3v2.3/2.4 tag bytes (prependable to any MP3 payload): UTF-8
    frames for v2.4, UTF-16-BOM for v2.3 (its spec predates UTF-8)."""
    if version not in (3, 4):
        raise ValueError("only ID3v2.3/2.4 supported")
    enc = 3 if version == 4 else 1

    def _enc(text: str) -> bytes:
        if enc == 3:
            return text.encode("utf-8")
        return text.encode("utf-16")  # BOM-led UTF-16

    frames = []
    rev_text = {v: k for k, v in _ID3_TEXT_MAP.items()}
    for key in ("title", "artist", "album"):
        if key in tags:
            body = bytes([enc]) + _enc(tags[key])
            frames.append((rev_text[key], body))
    for key, fid in (("comment", b"COMM"), ("lyrics", b"USLT")):
        if key in tags:
            body = bytes([enc]) + b"eng" + _id3_terminator(enc) \
                + _enc(tags[key])
            frames.append((fid, body))
    payload = b""
    for fid, body in frames:
        if version == 4:
            n = len(body)
            fsize = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                           (n >> 7) & 0x7F, n & 0x7F])
        else:
            fsize = struct.pack(">I", len(body))
        payload += fid + fsize + b"\x00\x00" + body
    n = len(payload)
    header = b"ID3" + bytes([version, 0, 0]) + bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
    return header + payload


# Vendor string the fixture writer puts in every comment; tests patch it.
VORBIS_VENDOR = "spark-graft"


def build_vorbis_comment(tags: dict) -> bytes:
    fields = []
    key_map = {"title": "TITLE", "artist": "ARTIST", "album": "ALBUM",
               "comment": "COMMENT", "lyrics": "LYRICS"}
    for key, name in key_map.items():
        if key in tags:
            fields.append(f"{name}={tags[key]}".encode("utf-8"))
    vend = VORBIS_VENDOR.encode("utf-8")
    out = struct.pack("<I", len(vend)) + vend
    out += struct.pack("<I", len(fields))
    for f in fields:
        out += struct.pack("<I", len(f)) + f
    return out


def build_flac_with_tags(tags: dict) -> bytes:
    """fLaC + valid STREAMINFO (44.1 kHz) + a VORBIS_COMMENT block (last)."""
    info = bytearray(34)
    info[0:2] = (4096).to_bytes(2, "big")   # min block size
    info[2:4] = (4096).to_bytes(2, "big")   # max block size
    # sample rate (20 bits) | channels-1 (3) | bps-1 (5) | total (36)
    packed = (44100 << 44) | (1 << 41) | (15 << 36) | 44100
    info[10:18] = packed.to_bytes(8, "big")
    comment = build_vorbis_comment(tags)
    return (b"fLaC"
            + bytes([0]) + len(info).to_bytes(3, "big") + bytes(info)
            + bytes([0x80 | 4]) + len(comment).to_bytes(3, "big") + comment)


def _ogg_page(payload: bytes, seq: int = 0,
              header_type: int = 0, granule: int = 0) -> bytes:
    """Minimal Ogg page of stream serial 1 (zero CRC — the in-repo parsers
    don't validate CRC32, documented here; payloads ≤ 255*255 bytes)."""
    segs = []
    rest = payload
    while True:
        segs.append(min(len(rest), 255))
        if len(rest) < 255:
            break
        rest = rest[255:]
    return (b"OggS\x00" + bytes([header_type])
            + struct.pack("<q", granule) + struct.pack("<I", 1)
            + struct.pack("<I", seq) + b"\x00\x00\x00\x00"
            + bytes([len(segs)]) + bytes(segs) + payload)


def build_ogg_opus_with_tags(tags: dict) -> bytes:
    head = (b"OpusHead\x01" + bytes([2]) + struct.pack("<H", 312)
            + struct.pack("<I", 48000) + b"\x00\x00" + b"\x00")
    comment = b"OpusTags" + build_vorbis_comment(tags)
    return (_ogg_page(head, header_type=2, seq=0)
            + _ogg_page(comment, seq=1)
            + _ogg_page(b"\x00" * 10, seq=2, header_type=4, granule=48000))


def build_mp4_with_tags(tags: dict) -> bytes:
    def _box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    atoms = b""
    rev = {v: k for k, v in _ILST_MAP.items()}
    for key in NORMALIZED_KEYS:
        if key in tags:
            data_box = _box(b"data", struct.pack(">I", 1) + b"\x00" * 4
                            + tags[key].encode("utf-8"))
            atoms += _box(rev[key], data_box)
    meta = _box(b"meta", b"\x00" * 4 + _box(b"ilst", atoms))
    moov = _box(b"moov", _box(b"udta", meta))
    ftyp = _box(b"ftyp", b"M4A " + struct.pack(">I", 512) + b"isom")
    return ftyp + moov


def extract_id3v1(data: bytes) -> dict:
    """ID3v1: the fixed 128-byte 'TAG' trailer at end-of-file (the
    oldest MP3 tag format; still common on decades-old rips). Fields are
    fixed-width latin-1: title/artist/album 30 bytes each, year 4, then
    a 30-byte comment — or, when byte 125 is NUL and byte 126 is not
    (the v1.1 convention), a 28-byte comment + track number. Used as a
    LAST-RESORT fallback after every container sniff fails: 'TAG' at a
    fixed tail offset is only 3 magic bytes, so fields containing
    control characters are rejected as coincidental binary (the
    quarantine contract must hold for random crawl blobs)."""
    if len(data) < 128 or data[-128:-125] != b"TAG":
        return {}
    t = data[-128:]
    comment_end = 125 if (t[125] == 0 and t[126] != 0) else 127

    def _field(a: int, b: int):
        raw = t[a:b].split(b"\x00")[0]
        if any(ch < 0x20 for ch in raw):
            raise ValueError("ID3v1: control bytes in field")
        return raw.decode("latin-1", "replace").strip()

    out = {}
    try:
        for key, (a, b) in (("title", (3, 33)), ("artist", (33, 63)),
                            ("album", (63, 93)),
                            ("comment", (97, comment_end))):
            val = _field(a, b)
            if val:
                out[key] = val
    except ValueError:
        return {}  # coincidental 'TAG' in binary data, not a real trailer
    return out


def extract_mkv_tags(data: bytes) -> dict:
    """Matroska Tags element → normalized dict: Segment → Tags → Tag →
    SimpleTag {TagName, TagString}, names mapped through the same
    (case-insensitive) key set as Vorbis comments."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import (
        _walk_ebml,
        sniff_mkv,
    )

    if not sniff_mkv(data):
        raise ValueError("not a Matroska/WebM file")
    out: dict = {}
    for eid, ps, pe in _walk_ebml(data, 0, len(data)):
        if eid != 0x18538067:  # Segment
            continue
        for seid, sps, spe in _walk_ebml(data, ps, pe):
            if seid != 0x1254C367:  # Tags
                continue
            for tid, tps, tpe in _walk_ebml(data, sps, spe):
                if tid != 0x7373:  # Tag
                    continue
                for stid, stps, stpe in _walk_ebml(data, tps, tpe):
                    if stid != 0x67C8:  # SimpleTag
                        continue
                    name = value = None
                    for fid, fps, fpe in _walk_ebml(data, stps, stpe):
                        if fpe - fps > _MAX_TAG_BYTES:
                            continue  # anti-ballooning cap (module invariant)
                        if fid == 0x45A3:  # TagName
                            name = data[fps:fpe].decode("utf-8", "replace")
                        elif fid == 0x4487:  # TagString
                            value = data[fps:fpe].decode("utf-8", "replace")
                    if name and value and len(value) <= _MAX_TAG_BYTES:
                        key = _VORBIS_MAP.get(name.strip().lower())
                        val = value.strip()
                        if key and val:
                            out.setdefault(key, val)
    return out


def build_mkv_with_tags(tags: dict) -> bytes:
    """Fixture twin of ``extract_mkv_tags``: a Matroska file whose
    Segment carries only a Tags element."""
    from graphrag_mrkr_2_spark.functions.av1codec import (
        _el,
        _uint_payload,
        ebml_header,
    )

    ebml = ebml_header(b"matroska")
    name_map = {"title": "TITLE", "artist": "ARTIST", "album": "ALBUM",
                "comment": "COMMENT", "lyrics": "LYRICS"}
    simple = []
    for key, name in name_map.items():
        if key in tags:
            simple.append(_el(0x67C8, b"".join([
                _el(0x45A3, name.encode("utf-8")),
                _el(0x4487, tags[key].encode("utf-8")),
            ])))
    tags_el = _el(0x1254C367, _el(0x7373, b"".join(simple)))
    return ebml + _el(0x18538067, tags_el)
