"""Pure-stdlib baseline TIFF codec (r4 — closes the last container format
of the reference's image loader list: jpg/jpeg/png/bmp/tiff,
ingestion/loaders/image_loader.py).

TIFF 6.0 baseline per the public spec: header (II/MM byte order), IFD
walk, the baseline tags (ImageWidth/ImageLength/BitsPerSample/Compression/
PhotometricInterpretation/StripOffsets/SamplesPerPixel/RowsPerStrip/
StripByteCounts), 8-bit samples, grayscale (incl. WhiteIsZero inversion)
and RGB(A), strip AND tile (§15, tags 322-325) assembly, Compression 1
(none), 5 (LZW per §13 with the spec's early-change variable widths),
7 (new-style JPEG-in-TIFF per TechNote 2, with JPEGTables tag-347
splicing, decoded by our own jpegcodec) and 32773 (PackBits), and
Predictor 2 (horizontal differencing, the standard LZW companion).

An encoder (single strip, little-endian, optional LZW + predictor) is
included for the exact encode→decode round-trip oracle. Pixels are
(h, w, c) uint8.
"""

from __future__ import annotations

import struct

import numpy as np


def _unpackbits(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF 6.0 §9): n >= 0 → copy n+1 literal; -127 <= n <= -1 →
    repeat next byte 1-n times; -128 → no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = struct.unpack("b", data[i : i + 1])[0]
        i += 1
        if n >= 0:
            out += data[i : i + n + 1]
            i += n + 1
        elif n != -128:
            out += data[i : i + 1] * (1 - n)
            i += 1
    return bytes(out[:expected])


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first variable-width codes, 8-bit symbols,
    Clear=256, EOI=257, first entry 258, initial width 9, 12-bit cap, and
    the spec's EARLY CHANGE — widths grow one code sooner than GIF because
    the decoder runs one add behind the encoder (libtiff's MAXCODE-1)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: dict[int, bytes] = {i: bytes([i]) for i in range(256)}
    next_code = 258
    width = 9
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + width <= total_bits and len(out) < expected:
        byte_i = bitpos // 8
        chunk = data[byte_i : byte_i + 3].ljust(3, b"\x00")
        window = int.from_bytes(chunk, "big")
        shift = 24 - (bitpos % 8) - width
        code = (window >> shift) & ((1 << width) - 1)
        bitpos += width
        if code == CLEAR:
            table = {i: bytes([i]) for i in range(256)}
            next_code = 258
            width = 9
            prev = None
            continue
        if code == EOI:
            break
        if prev is None:
            entry = table[code]
        else:
            if code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + prev[:1]
            else:
                raise ValueError(f"bad TIFF LZW code {code}")
            if next_code < 4096:
                table[next_code] = prev + entry[:1]
                next_code += 1
                # early change: the encoder is one add ahead — grow when
                # ITS next free entry (next_code + 1) crosses the width
                # (threshold (1<<w)-1, verified byte-exact against libtiff)
                if next_code + 1 > (1 << width) - 1 and width < 12:
                    width += 1
        out += entry
        prev = entry
    return bytes(out[:expected])


def decode_tiff(data: bytes) -> np.ndarray:
    """Decode a baseline 8-bit TIFF (first IFD) to (h, w, c) uint8."""
    if data[:2] == b"II":
        e = "<"
    elif data[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    (magic,) = struct.unpack(e + "H", data[2:4])
    if magic != 42:
        raise ValueError("not a TIFF: bad magic")
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    (n_entries,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])

    _SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}

    def read_values(ftype: int, count: int, raw: bytes) -> list[int]:
        size = _SIZES.get(ftype, 1)
        total = size * count
        if total > 4:
            (off,) = struct.unpack(e + "I", raw)
            body = data[off : off + total]
        else:
            body = raw[:total]
        fmt = {1: "B", 3: "H", 4: "I"}.get(ftype)
        if fmt is None:
            return []
        return list(struct.unpack(e + fmt * count, body))

    tags: dict[int, list[int]] = {}
    raw_tags: dict[int, bytes] = {}  # BYTE/UNDEFINED payloads (JPEGTables)
    for k in range(n_entries):
        entry = data[ifd_off + 2 + 12 * k : ifd_off + 14 + 12 * k]
        tag, ftype, count = struct.unpack(e + "HHI", entry[:8])
        tags[tag] = read_values(ftype, count, entry[8:12])
        if tag == 347 and ftype in (1, 7):  # only JPEGTables is consumed
            if count > 4:
                (off,) = struct.unpack(e + "I", entry[8:12])
                raw_tags[tag] = data[off : off + count]
            else:
                raw_tags[tag] = entry[8 : 8 + count]

    def one(tag: int, default: int | None = None) -> int:
        v = tags.get(tag)
        if not v:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    w = one(256)
    h = one(257)
    compression = one(259, 1)
    photometric = one(262, 1)
    spp = one(277, 1)
    bits = tags.get(258, [8] * spp)
    rows_per_strip = one(278, h)
    # Unify strips and tiles (§15) into (offset, count, row0, col0, seg_h,
    # seg_w) segments: strips are full-width row bands; tiles form a grid
    # whose segments are always padded to the full tile size.
    if w < 1 or h < 1:
        raise ValueError(f"bad TIFF dimensions {w}x{h}")
    if 322 in tags or 324 in tags:
        tile_w = one(322)
        tile_h = one(323)
        if tile_w < 1 or tile_h < 1:
            raise ValueError(f"bad TIFF tile size {tile_w}x{tile_h}")
        offsets = tags.get(324)
        counts = tags.get(325)
        if not offsets or not counts:
            raise ValueError("TIFF missing tile offsets/byte counts")
        across = -(-w // tile_w)
        down = -(-h // tile_h)
        if len(offsets) < across * down or len(counts) < across * down:
            raise ValueError("TIFF tile data too short")
        segments = [
            (
                offsets[i],
                counts[i],
                (i // across) * tile_h,
                (i % across) * tile_w,
                tile_h,
                tile_w,
            )
            for i in range(across * down)
        ]
    else:
        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets or not counts:
            raise ValueError("TIFF missing strip offsets/byte counts")
        segments = []
        row0 = 0
        for off, cnt in zip(offsets, counts):
            if row0 >= h:
                break
            seg_h = min(rows_per_strip, h - row0)
            segments.append((off, cnt, row0, 0, seg_h, w))
            row0 += seg_h
        if row0 < h:
            raise ValueError("TIFF strip data too short")
    if any(b != 8 for b in bits):
        raise ValueError(f"unsupported TIFF bit depths {bits} (8-bit only)")
    predictor = one(317, 1)
    if compression not in (1, 5, 7, 32773):
        raise ValueError(
            f"unsupported TIFF compression {compression} "
            "(none/LZW/JPEG/PackBits only)"
        )
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")

    if compression == 7:
        # New-style JPEG-in-TIFF (TIFF TechNote 2): each strip/tile is an
        # abbreviated JPEG stream; shared quant/huffman tables live in the
        # JPEGTables tag (347) as SOI <table segments> EOI and are spliced
        # in after each segment's SOI (writers may also inline full streams
        # per segment — redefinition mid-stream is legal JPEG and the later
        # tables win, so splicing is safe either way). Photometric 6
        # (YCbCr) is what the JPEG decoder already emits as RGB; 0/1 is
        # grayscale.
        if photometric not in (0, 1, 6):
            raise ValueError(
                f"unsupported JPEG-in-TIFF photometric {photometric}"
            )
        from .jpegcodec import decode_jpeg

        tables = raw_tags.get(347, b"")
        if tables[:2] == b"\xff\xd8" and tables[-2:] == b"\xff\xd9":
            tables = tables[2:-2]
        canvas: np.ndarray | None = None
        for off, cnt, row0, col0, seg_h, seg_w in segments:
            body = data[off : off + cnt]
            if body[:2] != b"\xff\xd8":
                raise ValueError("JPEG-in-TIFF segment missing SOI")
            seg_px = decode_jpeg(b"\xff\xd8" + tables + body[2:])
            if seg_px.ndim == 2:
                seg_px = seg_px[:, :, None]
            if canvas is None:
                canvas = np.zeros((h, w, seg_px.shape[2]), dtype=np.uint8)
            vh = min(seg_h, h - row0)
            vw = min(seg_w, w - col0)
            if seg_px.shape[0] < vh or seg_px.shape[1] < vw:
                raise ValueError("JPEG-in-TIFF segment data too short")
            canvas[row0 : row0 + vh, col0 : col0 + vw] = seg_px[:vh, :vw]
        if canvas is None:  # unreachable given the w/h >= 1 guard above,
            raise ValueError("JPEG-in-TIFF has no segments")  # but cheap
        if photometric == 0:  # WhiteIsZero
            canvas = 255 - canvas
        return canvas

    if photometric not in (0, 1, 2):
        raise ValueError(f"unsupported TIFF photometric {photometric}")

    px = np.zeros((h, w, spp), dtype=np.uint8)
    for off, cnt, row0, col0, seg_h, seg_w in segments:
        body = data[off : off + cnt]
        expected = seg_h * seg_w * spp
        if compression == 32773:
            body = _unpackbits(body, expected)
        elif compression == 5:
            body = _tiff_lzw_decode(body, expected)
        if len(body) < expected:
            raise ValueError("TIFF strip data too short")
        seg = np.frombuffer(bytes(body[:expected]), dtype=np.uint8).reshape(
            seg_h, seg_w, spp
        )
        if predictor == 2:  # horizontal differencing: undo = per-row cumsum
            # per segment — a tile's differences restart at ITS left edge
            seg = (np.cumsum(seg, axis=1, dtype=np.int64) % 256).astype(np.uint8)
        vh = min(seg_h, h - row0)
        vw = min(seg_w, w - col0)
        px[row0 : row0 + vh, col0 : col0 + vw] = seg[:vh, :vw]
    if photometric == 0:  # WhiteIsZero
        px = 255 - px
    return px


