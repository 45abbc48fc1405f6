"""Media fixture builders and native reference decoders for the codec tests.

The package decodes; the encoders and muxers here build the inputs its
decoders are tested on, and the libaom/libheif bindings are the independent
A/B references the package's own decoders are compared with. No product code
calls any of them. Settings a test varies are keyword arguments.

Not collected by pytest (no ``test_`` prefix); tests import it by module
name, as they import ``helpers``.
"""

from __future__ import annotations

import ctypes
import struct

import numpy as np

from graphrag_mrkr_2_spark.functions.audiodemux import MAX_FRAMES, mkv_audio_track_info
from graphrag_mrkr_2_spark.functions.av1codec import (
    _LAYOUT_I400,
    _LAYOUT_I420,
    _LAYOUT_I422,
    _LAYOUT_I444,
    _plane,
    avif_primary_obu,
)
from graphrag_mrkr_2_spark.functions.heifcodec import _check, _load_heif
from graphrag_mrkr_2_spark.functions.hevccodec import (
    heif_item_config,
    parse_hvcc,
    split_length_prefixed,
)
from graphrag_mrkr_2_spark.functions.imagecodecs import _gif_palette, _lzw_encode, _write_subblocks
from graphrag_mrkr_2_spark.functions import mp4mux
from graphrag_mrkr_2_spark.functions.mp4mux import (
    _VIDEO_CONFIG_BOXES,
    _box,
    _build_moov,
    _full_box,
    _sample_entry,
    mp4_audio_track_info,
    mp4_video_track_info,
)
from graphrag_mrkr_2_spark.functions.nativecodecs import load_library


# ---------------------------------------------------------------------------
# TIFF (functions/tiffcodec.py decodes)
# ---------------------------------------------------------------------------


class _MsbBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc = (self.acc << width) | code
        self.nbits += width
        while self.nbits >= 8:
            self.buf.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.buf.append((self.acc << (8 - self.nbits)) & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.buf)


def _tiff_lzw_encode(data: bytes) -> bytes:
    CLEAR, EOI = 256, 257
    bw = _MsbBitWriter()

    def reset():
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, next_code, width = reset()
    bw.write(CLEAR, width)
    w = b""
    for b in data:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        bw.write(table[w], width)
        if next_code < 4094:  # leave room: table refills at 4094 per spec
            table[wk] = next_code
            next_code += 1
            # encoder-side early change (decoder checks next_code + 1: it
            # runs one add behind); threshold (1<<w)-1 per libtiff
            if next_code > (1 << width) - 1 and width < 12:
                width += 1
        else:
            bw.write(CLEAR, width)
            table, next_code, width = reset()
        w = bytes([b])
    if w:
        bw.write(table[w], width)
    bw.write(EOI, width)
    return bw.flush()


def encode_tiff(pixels: np.ndarray, compression: str = "none", predictor: int = 1) -> bytes:
    """Encode (h, w, c∈{1,3,4}) uint8 to a little-endian single-strip TIFF.
    ``compression``: 'none' or 'lzw' (TIFF §13, early-change widths);
    ``predictor``: 1 (none) or 2 (horizontal differencing — the
    standard LZW companion). Round-trip oracle for the decoder's compressed
    paths."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, spp = px.shape
    if spp not in (1, 3, 4):
        raise ValueError("encode_tiff expects 1, 3 or 4 channels")
    if predictor == 2:
        diff = px.astype(np.int16)
        diff[:, 1:, :] -= px[:, :-1, :].astype(np.int16)
        body_px = (diff & 0xFF).astype(np.uint8)
    elif predictor == 1:
        body_px = px
    else:
        raise ValueError(f"unsupported predictor {predictor}")
    body = body_px.tobytes()
    if compression == "lzw":
        comp_tag = 5
        body = _tiff_lzw_encode(body)
    elif compression == "none":
        comp_tag = 1
    else:
        raise ValueError(f"unsupported compression {compression!r}")
    photometric = 1 if spp == 1 else 2

    entries = []

    def entry(tag, ftype, count, value_bytes):
        entries.append((tag, ftype, count, value_bytes))

    # layout: header(8) + pixel data + bits table + IFD
    data_off = 8
    bits_off = data_off + len(body)
    ifd_off = bits_off + 2 * spp

    def short(v):
        return struct.pack("<HH", v, 0)

    def long_(v):
        return struct.pack("<I", v)

    entry(256, 4, 1, long_(w))
    entry(257, 4, 1, long_(h))
    if spp == 1:
        entry(258, 3, 1, short(8))
    else:
        entry(258, 3, spp, long_(bits_off))
    entry(259, 3, 1, short(comp_tag))
    entry(262, 3, 1, short(photometric))
    if predictor == 2:
        entry(317, 3, 1, short(2))
    entry(273, 4, 1, long_(data_off))
    entry(277, 3, 1, short(spp))
    entry(278, 4, 1, long_(h))
    entry(279, 4, 1, long_(len(body)))

    out = bytearray(b"II" + struct.pack("<HI", 42, ifd_off))
    out += body
    out += struct.pack("<" + "H" * spp, *([8] * spp))
    out += struct.pack("<H", len(entries))
    for tag, ftype, count, vb in sorted(entries):
        out += struct.pack("<HHI", tag, ftype, count) + vb
    out += struct.pack("<I", 0)  # no next IFD
    return bytes(out)


# ---------------------------------------------------------------------------
# animated GIF (functions/imagecodecs.gif_frames decodes)
# ---------------------------------------------------------------------------


def encode_gif_frames(frames: list[np.ndarray], delays_ms: list[int]) -> bytes:
    """Encode full-screen RGB frames (shared <=256-color palette across all
    frames) to an animated GIF89a with per-frame GCE delays — the
    round-trip oracle for :func:`gif_frames` (disposal 0, no
    transparency)."""
    if not frames:
        raise ValueError("encode_gif_frames needs at least one frame")
    h, w, _ = frames[0].shape
    if any(f.shape != (h, w, 3) for f in frames):
        raise ValueError("encode_gif_frames needs uniform (h, w, 3) frames")
    if len(delays_ms) != len(frames):
        raise ValueError("delays_ms must have one entry per frame")
    stack = np.concatenate([f.reshape(-1, 3) for f in frames], axis=0)
    table, inverse, bits, min_code_size = _gif_palette(stack)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += table.tobytes()
    per = w * h
    for fi, _frame in enumerate(frames):
        delay_cs = max(0, delays_ms[fi] // 10)
        out += b"\x21\xf9\x04" + struct.pack("<BHB", 0, delay_cs, 0) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out.append(min_code_size)
        _write_subblocks(
            out,
            _lzw_encode(
                [int(i) for i in inverse[fi * per : (fi + 1) * per]], min_code_size
            ),
        )
    out += b"\x3b"
    return bytes(out)


# ---------------------------------------------------------------------------
# MJPEG AVI (functions/avicodec.py parses)
# ---------------------------------------------------------------------------


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) & 1 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(listtype: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", listtype + payload)


def encode_avi_mjpeg(frames: list[bytes], width: int, height: int, fps: int = 25) -> bytes:
    """Wrap pre-encoded JPEG frames into an MJPEG AVI container at ``fps``
    frames per second."""
    if not frames:
        raise ValueError("encode_avi_mjpeg needs at least one frame")
    period_us = int(round(1_000_000 / max(1, fps)))
    max_bytes = max(len(f) for f in frames)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        period_us, max_bytes * fps, 0, 0x10, len(frames), 0, 1, max_bytes,
        width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, len(frames),
        max_bytes, 0xFFFFFFFF, 0, 0, 0, int(width), int(height),
    )
    # BITMAPINFOHEADER
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0x47504A4D,  # 'MJPG'
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# MP4 (functions/mp4mux.py demuxes)
# ---------------------------------------------------------------------------


def mux_fmp4_video(samples, width: int, height: int, codec: str,
                   config_record: bytes, samples_per_fragment: int = 2,
                   keyframes=None, mehd: bool = False, sidx: bool = False) -> bytes:
    """Fragmented-MP4 twin of ``mux_mp4_video`` (fixture path for the
    DASH/CMAF demux leg): init segment (ftyp + moov with EMPTY sample
    tables + mvex/trex) followed by one moof+mdat pair per
    ``samples_per_fragment`` samples — tfhd default-base-is-moof, tfdt
    decode times, trun with data-offset + per-sample sizes.
    ``keyframes`` (per-sample flags; None marks every sample key)
    additionally writes per-sample trun flags with
    sample_is_non_sync_sample set on interframes — the field real DASH
    video uses to mark its GOP structure.

    ``mehd`` writes the movie-extends header (ISO 14496-12 §8.8.2) with
    the total fragment_duration; ``sidx`` writes a segment index
    (§8.16.3) between the init segment and the first moof, one
    media-referencing entry per fragment — the two spec'd duration fast
    paths for fMP4 probes (r7, probe_mp4 precedence mvhd→mehd→sidx)."""
    samples = [bytes(s) for s in samples]
    if not samples:
        raise ValueError("mux_fmp4_video: no samples")
    if keyframes is not None and len(keyframes) != len(samples):
        raise ValueError(
            f"mux_fmp4_video: {len(keyframes)} keyframe flags for "
            f"{len(samples)} samples")
    fourcc = codec.encode("ascii")
    if fourcc not in _VIDEO_CONFIG_BOXES:
        raise ValueError(f"unsupported MP4 video codec {codec!r}")

    entry = _sample_entry(fourcc, width, height, config_record)
    stbl = _box(b"stbl", b"".join([
        _full_box(b"stsd", 0, 0, struct.pack(">I", 1) + entry),
        _full_box(b"stts", 0, 0, struct.pack(">I", 0)),
        _full_box(b"stsc", 0, 0, struct.pack(">I", 0)),
        _full_box(b"stsz", 0, 0, struct.pack(">II", 0, 0)),
        _full_box(b"stco", 0, 0, struct.pack(">I", 0)),
    ]))
    mvex_children = b""
    if mehd:
        mvex_children += _full_box(b"mehd", 1, 0, struct.pack(
            ">Q", len(samples) * mp4mux.MP4_FRAME_MS))
    mvex_children += _full_box(b"trex", 0, 0, struct.pack(
        ">IIIII", 1, 1, mp4mux.MP4_FRAME_MS, 0, 0))
    mvex = _box(b"mvex", mvex_children)
    out = [_box(b"ftyp", b"iso5" + struct.pack(">I", 512) +
                b"iso5" + b"iso6" + b"mp41"),
           _box(b"moov", _build_moov(width, height, stbl, 0)[8:] + mvex)]

    spf = max(1, int(samples_per_fragment))
    seq = 0
    tcur = 0
    frag_meta = []  # (moof+mdat bytes, duration ticks) per fragment
    for i in range(0, len(samples), spf):
        frag = samples[i:i + spf]
        seq += 1
        mfhd = _full_box(b"mfhd", 0, 0, struct.pack(">I", seq))
        # tfhd: default-base-is-moof (0x020000); trun carries sizes
        tfhd = _full_box(b"tfhd", 0, 0x020000, struct.pack(">I", 1))
        tfdt = _full_box(b"tfdt", 1, 0, struct.pack(">Q", tcur))
        # trun flags: data-offset (0x1) + sample-size (0x200), plus
        # per-sample flags (0x400) when a keyframe pattern was given
        frag_keys = (keyframes[i:i + spf] if keyframes is not None
                     else [True] * len(frag))
        tr_flags = 0x000201 | (0x000400 if keyframes is not None else 0)
        fields = b"".join(
            struct.pack(">I", len(s)) +
            (struct.pack(">I", 0 if k else 0x00010000)
             if keyframes is not None else b"")
            for s, k in zip(frag, frag_keys))
        # data offset = moof size + mdat header (8), relative to moof
        # start (default-base-is-moof); moof size is fixed once the
        # sample count is known: box sizes are hdr(8) + verflags(4) +
        # payload for each FullBox below
        trun_total = 8 + 4 + 4 + 4 + len(fields)
        traf_total = 8 + 16 + 20 + trun_total  # hdr + tfhd + tfdt + trun
        moof_len = 8 + 16 + traf_total         # hdr + mfhd + traf
        trun = _full_box(b"trun", 0, tr_flags,
                         struct.pack(">Ii", len(frag), moof_len + 8) +
                         fields)
        traf = _box(b"traf", tfhd + tfdt + trun)
        moof = _box(b"moof", mfhd + traf)
        if len(moof) != moof_len:
            raise AssertionError(
                f"fMP4 muxer offset math drifted: {len(moof)} != {moof_len}")
        mdat = _box(b"mdat", b"".join(frag))
        out.append(moof)
        out.append(mdat)
        frag_meta.append((len(moof) + len(mdat),
                          len(frag) * mp4mux.MP4_FRAME_MS))
        tcur += len(frag) * mp4mux.MP4_FRAME_MS
    if sidx:
        refs = b"".join(
            struct.pack(">III", size, dur, 0x90000000)  # SAP=1, type 1
            for size, dur in frag_meta)
        sidx_box = _full_box(b"sidx", 0, 0, struct.pack(
            ">IIIIHH", 1, 1000, 0, 0, 0, len(frag_meta)) + refs)
        out.insert(2, sidx_box)  # between init segment and first moof
    return b"".join(out)


def mux_mp4_timed_text(cues) -> bytes:
    """3GPP timed-text (tx3g) track fixture: each cue becomes one sample
    of ``u16 length + UTF-8 text``; gaps between cues become empty
    samples (length 0) so the stts durations reconstruct exact
    (start, end) windows — exactly how real players expect subtitle
    tracks to be laid out. Cues must be sorted and non-overlapping."""
    cues = list(cues)
    if not cues:
        raise ValueError("mux_mp4_timed_text: no cues")
    samples, stts_entries = [], []
    cur = 0
    for start, end, text in cues:
        if start < cur or end < start:
            raise ValueError("timed-text cues must be sorted, non-overlap")
        if start > cur:
            samples.append(b"\x00\x00")          # gap: empty sample
            stts_entries.append(start - cur)
        enc = text.encode("utf-8")
        if len(enc) > 0xFFFF:
            raise ValueError("timed-text cue exceeds the u16 sample bound")
        samples.append(struct.pack(">H", len(enc)) + enc)
        stts_entries.append(max(1, end - start))
        cur = max(end, start + 1)
    duration = cur

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) +
                b"isom" + b"iso2" + b"mp41")
    mdat_payload = b"".join(samples)
    mdat_start = len(ftyp) + 8
    # tx3g sample description (ETSI TS 126.245 §5.16): SampleEntry base +
    # displayFlags, justification, bg color, default text box, style
    entry = _box(b"tx3g", b"".join([
        b"\x00" * 6, struct.pack(">H", 1),   # reserved + data_ref_index
        struct.pack(">I", 0),                # displayFlags
        struct.pack(">bb", 1, -1),           # h/v justification
        b"\x00\x00\x00\xff",                 # bg RGBA
        struct.pack(">HHHH", 0, 0, 0, 0),    # default text box
        struct.pack(">HH", 0, 0),            # style record: start/end
        struct.pack(">HBB", 1, 0, 12),       # font id, face, size
        b"\xff\xff\xff\xff",                 # text RGBA
        _box(b"ftab", struct.pack(">HH", 1, 1) +  # mandatory font table
             bytes([5]) + b"Serif"),
    ]))
    stsd = _full_box(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full_box(b"stts", 0, 0, struct.pack(">I", len(stts_entries)) +
                     b"".join(struct.pack(">II", 1, d)
                              for d in stts_entries))
    stsc = _full_box(b"stsc", 0, 0, struct.pack(">I", 1) +
                     struct.pack(">III", 1, len(samples), 1))
    stsz = _full_box(b"stsz", 0, 0,
                     struct.pack(">II", 0, len(samples)) +
                     b"".join(struct.pack(">I", len(s)) for s in samples))
    stco = _full_box(b"stco", 0, 0, struct.pack(">I", 1) +
                     struct.pack(">I", mdat_start))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    moov = _build_moov(0, 0, stbl, duration, handler=b"text")
    return ftyp + _box(b"mdat", mdat_payload) + moov


MAX_SAMPLES = 10_000  # samples one *_samples call returns


def mp4_video_samples(data: bytes) -> list:
    """``[(ts_ms, keyframe, payload), ...]`` for the first video track —
    the same shape ``av1codec.mkv_video_samples`` returns for WebM."""
    return mp4_video_track_info(data)["samples"][:MAX_SAMPLES]


def mp4_audio_samples(data: bytes) -> list:
    """``[(ts_ms, payload), ...]`` coded audio frames of the first audio
    track — the raw per-sample bytes an injected decoder consumes."""
    return [(ts, p) for ts, _k, p
            in mp4_audio_track_info(data)["samples"][:MAX_SAMPLES]]


# ---------------------------------------------------------------------------
# Matroska audio (functions/audiodemux.py demuxes)
# ---------------------------------------------------------------------------


def mkv_audio_samples(data: bytes) -> list:
    """``[(ts_ms, payload), ...]`` coded audio frames of the first audio
    track — the raw per-frame bytes an injected decoder consumes."""
    return mkv_audio_track_info(data)["samples"][:MAX_FRAMES]


# ---------------------------------------------------------------------------
# ASS subtitles (functions/subtitles.parse_ass reads them back)
# ---------------------------------------------------------------------------


def format_ass(cues) -> str:
    """Cues → a minimal ASS script (fixture path — parse_ass reads it
    back; centisecond resolution, so cue times should be multiples of
    10 ms)."""

    def _ts(ms: int) -> str:
        h, rem = divmod(ms, 3_600_000)
        m, rem = divmod(rem, 60_000)
        s, frac = divmod(rem, 1000)
        return f"{h}:{m:02d}:{s:02d}.{frac // 10:02d}"

    lines = ["[Script Info]", "Title: fixture", "", "[Events]",
             "Format: Layer, Start, End, Style, Name, MarginL, MarginR, "
             "MarginV, Effect, Text"]
    for start, end, text in cues:
        body = text.replace("\n", "\\N")
        lines.append(f"Dialogue: 0,{_ts(start)},{_ts(end)},Default,,0,0,0,,"
                     f"{body}")
    return "\n".join(lines) + "\n"


# ---------------------------------------------------------------------------
# HEVC bitstreams for the libde265 binding (functions/hevccodec.py)
# ---------------------------------------------------------------------------


def annexb_to_nals(data: bytes) -> list:
    """Split an Annex-B elementary stream (00 00 01 / 00 00 00 01 start
    codes) into raw NAL units — the framing of standalone ``.h265``/
    ``.hevc`` files found in crawls."""
    nals = []
    pos = data.find(b"\x00\x00\x01")
    if pos < 0:
        raise ValueError("no Annex-B start code found")
    pos += 3
    while pos < len(data):
        nxt = data.find(b"\x00\x00\x01", pos)
        if nxt < 0:
            chunk = data[pos:]
            nxt = len(data)
        else:
            chunk = data[pos:nxt]
            nxt += 3
        # a 4-byte start code leaves one trailing zero on the prior NAL
        chunk = chunk[:-1] if chunk.endswith(b"\x00") else chunk
        if chunk:
            nals.append(chunk)
        pos = nxt
    return nals


def hevc_nals_from_heic(heic: bytes) -> tuple:
    """Extract ``(param_nals, sample_nals)`` from a HEIC still image.

    The hvcC property associated with the primary item (pitm→ipma→ipco
    walk, falling back to the first hvcC in ipco) yields the VPS/SPS/PPS;
    the primary item's mdat payload (generic ISOBMFF iloc walk — shared
    with the AVIF path) is split by the record's NAL length size. This
    turns libheif's x265 encoder into an HEVC bitstream fixture source
    for the libde265 binding under test.
    """
    cfg = parse_hvcc(heif_item_config(heic, b"hvcC"))
    payload = avif_primary_obu(heic)  # generic primary-item iloc walk
    return cfg["param_nals"], split_length_prefixed(
        payload, cfg["nal_length_size"])


# ---------------------------------------------------------------------------
# libaom: the A/B reference of the dav1d binding (functions/av1codec.py)
# ---------------------------------------------------------------------------


_AOM_CANDIDATES = ("libaom.so.3", "libaom.so",
                   "/usr/lib/x86_64-linux-gnu/libaom.so.3")

# aom_image_t (aom 3.x): 16 leading ints (fmt, cp, tc, mc, monochrome, csp,
# range, w, h, bit_depth, d_w, d_h, r_w, r_h, x/y_chroma_shift), planes[3]
# at byte 64, stride[3] at 88. Decoder ABI version 22 (= 6 + 7 +
# AOM_IMAGE_ABI_VERSION 9), verified by probing init_ver.
_AOM_PLANES_OFF = 64
_AOM_STRIDE_OFF = 88
_AOM_DECODER_ABI = 22

_VP, _INT = ctypes.c_void_p, ctypes.c_int
_AOM_PROTOTYPES = {
    "aom_codec_av1_dx": (_VP, []),
    "aom_codec_dec_init_ver": (_INT, [_VP, _VP, _VP, ctypes.c_long, _INT]),
    "aom_codec_decode": (_INT, [_VP, ctypes.c_char_p, ctypes.c_size_t, _VP]),
    "aom_codec_get_frame": (_VP, [_VP, ctypes.POINTER(_VP)]),
    "aom_codec_destroy": (_INT, [_VP]),
}


def _load_aom():
    return load_library(_AOM_CANDIDATES, _AOM_PROTOTYPES, find="aom")


def aom_decoder_available() -> bool:
    return _load_aom() is not None


def decode_av1_frames_yuv_aom(obus) -> list:
    """Same contract as decode_av1_frames_yuv but through libaom's decoder
    — the independent A/B implementation (test/conformance use)."""
    lib = _load_aom()
    if lib is None:
        raise ValueError("libaom is not available on this host")
    iface = lib.aom_codec_av1_dx()
    ctx = (ctypes.c_uint8 * 512)()
    if lib.aom_codec_dec_init_ver(ctx, iface, None, 0, _AOM_DECODER_ABI) != 0:
        raise ValueError("aom decoder init failed (ABI mismatch?)")
    frames = []
    try:
        for obu in obus:
            if not obu:
                continue
            payload = bytes(obu)
            if lib.aom_codec_decode(ctx, payload, len(payload), None) != 0:
                raise ValueError("aom_codec_decode failed")
            it = ctypes.c_void_p()
            while True:
                img = lib.aom_codec_get_frame(ctx, ctypes.byref(it))
                if not img:
                    break
                ints = ctypes.cast(img, ctypes.POINTER(ctypes.c_int))
                mc, mono, rng_full = ints[3], ints[4], ints[6]
                bd, dw, dh = ints[9], ints[10], ints[11]
                xs, ys = ints[14], ints[15]
                if bd != 8:
                    raise ValueError(f"unsupported AV1 bit depth {bd}")
                planes = ctypes.cast(
                    img + _AOM_PLANES_OFF, ctypes.POINTER(ctypes.c_void_p))
                strides = ctypes.cast(
                    img + _AOM_STRIDE_OFF, ctypes.POINTER(ctypes.c_int))
                y = _plane(planes[0], dh, strides[0], dw)
                if mono:
                    u = v = None
                    layout = _LAYOUT_I400
                else:
                    cw = (dw + 1) // 2 if xs else dw
                    ch = (dh + 1) // 2 if ys else dh
                    u = _plane(planes[1], ch, strides[1], cw)
                    v = _plane(planes[2], ch, strides[2], cw)
                    layout = (_LAYOUT_I420 if (xs and ys)
                              else _LAYOUT_I422 if xs else _LAYOUT_I444)
                frames.append((y, u, v, layout, mc, rng_full))
    finally:
        lib.aom_codec_destroy(ctx)
    return frames


# ---------------------------------------------------------------------------
# libheif planes: the A/B surface of the direct codec bindings
# ---------------------------------------------------------------------------


# public enums (libheif.h, stable since 1.0)
_COLORSPACE_YCBCR = 0
_CHROMA_420 = 1
_CHANNEL_Y, _CHANNEL_CB, _CHANNEL_CR = 0, 1, 2


def decode_heif_native_yuv(data: bytes) -> tuple:
    """Decode a 4:2:0 AVIF/HEIC payload to raw ``(y, cb, cr)`` uint8 planes
    (no RGB conversion; cb/cr keep their subsampled dims, None when absent).
    This is the plane-level A/B surface: a direct codec binding
    (``hevccodec``/``av1codec``) must reproduce these planes bit-exactly
    on the same payload, with no color conversion policy in the
    comparison.

    The request STATES the stream's native 4:2:0 subsampling: libheif only
    passes planes through untouched when the requested chroma equals the
    coded one — requesting
    heif_chroma_undefined makes 1.15 CONVERT (measured: a 4:2:0 stream
    came back 4:4:4 with ±1 luma wobble from the resampling round-trip),
    which would poison the A/B."""
    lib = _load_heif()
    if lib is None:
        raise ValueError("libheif is not available on this host")
    ctx = lib.heif_context_alloc()
    if not ctx:
        raise ValueError("libheif context allocation failed")
    handle = ctypes.c_void_p()
    img = ctypes.c_void_p()
    buf = ctypes.create_string_buffer(data, len(data))
    try:
        _check(lib.heif_context_read_from_memory_without_copy(
            ctx, buf, len(data), None), "read")
        _check(lib.heif_context_get_primary_image_handle(
            ctx, ctypes.byref(handle)), "primary handle")
        _check(lib.heif_decode_image(
            handle, ctypes.byref(img), _COLORSPACE_YCBCR,
            _CHROMA_420, None), "decode")

        def _read(channel):
            w = lib.heif_image_get_width(img, channel)
            h = lib.heif_image_get_height(img, channel)
            if w <= 0 or h <= 0:
                return None
            stride = ctypes.c_int()
            ptr = lib.heif_image_get_plane_readonly(
                img, channel, ctypes.byref(stride))
            if not ptr:
                return None
            rows = np.ctypeslib.as_array(ptr, shape=(h, stride.value))
            return rows[:, :w].copy()

        y = _read(_CHANNEL_Y)
        if y is None:
            raise ValueError("libheif returned no luma plane")
        return y, _read(_CHANNEL_CB), _read(_CHANNEL_CR)
    finally:
        if img:
            lib.heif_image_release(img)
        if handle:
            lib.heif_image_handle_release(handle)
        lib.heif_context_free(ctx)
