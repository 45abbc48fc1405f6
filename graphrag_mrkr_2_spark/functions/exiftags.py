"""EXIF text extraction from JPEG APP1 segments and TIFF IFDs.

The image-side companion of ``functions/mediatags.py`` (audio tags) and
``functions/subtitles.py`` (video captions): descriptions, artists,
copyrights, Windows XP* strings and UserComments are human-written text
embedded in crawl images. The reference's image path OCRs pixels only
(``ingestion/loaders/image_loader.py``) and drops this metadata.

Structure parsed for real, no codec work: a JPEG's ``Exif\\0\\0`` APP1
segment wraps a little TIFF file; TIFFs carry the tags directly. The
walker reads IFD0's ASCII tags (ImageDescription/Artist/Copyright), the
UTF-16LE Windows XP* BYTE tags, and follows the Exif-IFD pointer
(0x8769) for UserComment with its 8-byte charset prefix. Bounds-checked
throughout; a malformed structure raises ValueError (per-payload
quarantine upstream) and unknown tags are ignored.
"""

from __future__ import annotations

import struct

EXIF_KEYS = ("description", "artist", "copyright", "title", "comment",
             "author", "subject", "keywords")

_ASCII_TAGS = {0x010E: "description", 0x013B: "artist", 0x8298: "copyright"}
_XP_TAGS = {0x9C9B: "title", 0x9C9C: "comment", 0x9C9D: "author",
            0x9C9E: "keywords", 0x9C9F: "subject"}
_EXIF_IFD_POINTER = 0x8769
_USER_COMMENT = 0x9286

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}
_MAX_VALUE_BYTES = 1 << 20


def _ifd_entries(tiff: bytes, e: str, ifd_off: int):
    """Yield (tag, ftype, count, value_bytes) for one IFD, plus the next
    IFD offset. Every offset/length is bounds-checked."""
    if ifd_off + 2 > len(tiff):
        raise ValueError("EXIF: IFD offset out of bounds")
    (n,) = struct.unpack_from(e + "H", tiff, ifd_off)
    if n > 4096:
        raise ValueError("EXIF: implausible IFD entry count")
    entries = []
    for k in range(n):
        base = ifd_off + 2 + 12 * k
        if base + 12 > len(tiff):
            raise ValueError("EXIF: IFD entry out of bounds")
        tag, ftype, count = struct.unpack_from(e + "HHI", tiff, base)
        size = _TYPE_SIZES.get(ftype, 1)
        total = size * count
        if total > _MAX_VALUE_BYTES:
            raise ValueError("EXIF: tag value exceeds size cap")
        if total > 4:
            (off,) = struct.unpack_from(e + "I", tiff, base + 8)
            if off + total > len(tiff):
                raise ValueError("EXIF: tag value out of bounds")
            value = tiff[off:off + total]
        else:
            value = tiff[base + 8:base + 8 + total]
        entries.append((tag, ftype, count, value))
    return entries


def _clean(text: str):
    text = text.strip("\x00").strip()
    return text or None


def _parse_tiff_exif(tiff: bytes) -> dict:
    if len(tiff) < 8:
        raise ValueError("EXIF: TIFF header truncated")
    if tiff[:2] == b"II":
        e = "<"
    elif tiff[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("EXIF: bad TIFF byte-order mark")
    if struct.unpack_from(e + "H", tiff, 2)[0] != 42:
        raise ValueError("EXIF: bad TIFF magic")
    (ifd0,) = struct.unpack_from(e + "I", tiff, 4)
    out: dict = {}
    exif_ifd_off = None
    for tag, ftype, _count, value in _ifd_entries(tiff, e, ifd0):
        key = _ASCII_TAGS.get(tag)
        if key and ftype == 2:
            text = _clean(value.decode("latin-1", "replace"))
            if text:
                out.setdefault(key, text)
            continue
        key = _XP_TAGS.get(tag)
        if key and ftype in (1, 7):
            # writer bugs/truncation leave odd byte counts — drop the
            # dangling byte rather than emitting U+FFFD into the text
            even = value[:len(value) & ~1]
            text = _clean(even.decode("utf-16-le", "replace"))
            if text:
                out.setdefault(key, text)
            continue
        if tag == _EXIF_IFD_POINTER and ftype == 4 and len(value) >= 4:
            (exif_ifd_off,) = struct.unpack(e + "I", value[:4])
    if exif_ifd_off is not None:
        for tag, ftype, _count, value in _ifd_entries(tiff, e, exif_ifd_off):
            if tag == _USER_COMMENT and ftype in (1, 7) and len(value) >= 8:
                charset, body = value[:8], value[8:]
                if charset.startswith(b"ASCII"):
                    text = body.decode("ascii", "replace")
                elif charset.startswith(b"UNICODE"):
                    # Exif stores UCS-2 in the TIFF's own byte order
                    text = body.decode(
                        "utf-16-le" if e == "<" else "utf-16-be", "replace")
                else:  # undefined charset: latin-1 is the lossless read
                    text = body.decode("latin-1", "replace")
                text = _clean(text)
                if text:
                    out.setdefault("comment", text)
    return out


def exif_from_jpeg(data: bytes) -> bytes | None:
    """The TIFF blob inside a JPEG's ``Exif\\0\\0`` APP1 segment, or None
    when the file carries none. Walks marker segments only (no entropy
    decode); stops at SOS/EOI. Spec-legal 0xFF fill bytes before a
    marker (B.1.1.2 — real encoders emit them) are skipped."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            break
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1  # fill bytes collapse onto the real marker
        if pos + 2 > len(data):
            break
        marker = data[pos + 1]
        if marker in (0xDA, 0xD9):  # SOS (entropy follows) / EOI
            break
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > len(data):
            break  # truncated at a segment header: no EXIF found
        (seg_len,) = struct.unpack_from(">H", data, pos + 2)
        seg_end = pos + 2 + seg_len
        if seg_len < 2 or seg_end > len(data):
            raise ValueError("JPEG: marker segment overruns file")
        if marker == 0xE1 and data[pos + 4:pos + 10] == b"Exif\x00\x00":
            return data[pos + 10:seg_end]
        pos = seg_end
    return None


def extract_exif(payload: bytes) -> dict:
    """Normalized EXIF text dict from a JPEG or TIFF payload (missing
    keys absent); ``fmt`` names the carrier. JPEGs without an Exif APP1
    return just ``{"fmt": "jpeg"}``. Raises ValueError for payloads that
    are neither (quarantine upstream)."""
    if payload[:2] == b"\xff\xd8":
        tiff = exif_from_jpeg(payload)
        tags = _parse_tiff_exif(tiff) if tiff is not None else {}
        tags["fmt"] = "jpeg"
        return tags
    if payload[:2] in (b"II", b"MM"):
        tags = _parse_tiff_exif(payload)
        tags["fmt"] = "tiff"
        return tags
    raise ValueError("not a JPEG or TIFF payload")


# ---------------------------------------------------------------------------
# Fixture builders (round-trip oracle path)
# ---------------------------------------------------------------------------


def build_exif_tiff_blob(tags: dict) -> bytes:
    """A minimal little-endian TIFF blob holding the given EXIF text tags
    (IFD0 ASCII + XP* + an Exif sub-IFD with a UNICODE UserComment)."""
    entries0 = []
    heap = bytearray()

    def _value(ftype, payload: bytes):
        count = len(payload)
        if count <= 4:
            return count, payload.ljust(4, b"\x00"), None
        pos = len(heap)
        heap.extend(payload)
        return count, None, pos  # offset patched once layout is known

    for tag, key in sorted(_ASCII_TAGS.items()):
        if key in tags:
            payload = tags[key].encode("latin-1", "replace") + b"\x00"
            entries0.append((tag, 2, *_value(2, payload)))
    for tag, key in sorted(_XP_TAGS.items()):
        if key in tags:
            payload = tags[key].encode("utf-16-le")
            entries0.append((tag, 1, *_value(1, payload)))

    exif_entries = []
    if "comment" in tags:
        payload = b"UNICODE\x00" + tags["comment"].encode("utf-16-le")
        exif_entries.append((_USER_COMMENT, 7, *_value(7, payload)))

    # layout: header(8) + IFD0 + [exif IFD] + heap
    n0 = len(entries0) + (1 if exif_entries else 0)
    ifd0_off = 8
    ifd0_size = 2 + 12 * n0 + 4
    exif_off = ifd0_off + ifd0_size
    exif_size = (2 + 12 * len(exif_entries) + 4) if exif_entries else 0
    heap_off = exif_off + exif_size

    def _pack_ifd(entries, extra_entry=None):
        out = struct.pack("<H", len(entries) + (1 if extra_entry else 0))
        all_entries = list(entries)
        if extra_entry:
            all_entries.append(extra_entry)
        for tag, ftype, count, inline, hpos in sorted(all_entries):
            if inline is not None:
                raw = inline
            else:
                raw = struct.pack("<I", heap_off + hpos)
            out += struct.pack("<HHI", tag, ftype, count) + raw
        return out + struct.pack("<I", 0)  # no next IFD

    extra = None
    if exif_entries:
        extra = (_EXIF_IFD_POINTER, 4, 1,
                 struct.pack("<I", exif_off), None)
    blob = b"II*\x00" + struct.pack("<I", ifd0_off)
    blob += _pack_ifd(entries0, extra)
    if exif_entries:
        blob += _pack_ifd(exif_entries)
    return blob + bytes(heap)


def splice_exif_app1(jpeg: bytes, tags: dict) -> bytes:
    """Splice an Exif APP1 segment (built from ``tags``) right after an
    existing JPEG's SOI — the cheap path when the carrier image is
    constant and only the metadata varies (driver oracle batches)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    app1_payload = b"Exif\x00\x00" + build_exif_tiff_blob(tags)
    app1 = b"\xff\xe1" + struct.pack(">H", len(app1_payload) + 2) \
        + app1_payload
    return jpeg[:2] + app1 + jpeg[2:]


def build_exif_jpeg(tags: dict) -> bytes:
    """A REAL decodable 8x8 mid-grey JPEG (functions/jpegcodec.encode_jpeg)
    with the EXIF APP1 segment spliced after SOI — what crawl camera files
    look like."""
    import numpy as np

    from graphrag_mrkr_2_spark.functions.jpegcodec import encode_jpeg

    px = np.full((8, 8, 3), 128, dtype=np.uint8)
    return splice_exif_app1(encode_jpeg(px), tags)
