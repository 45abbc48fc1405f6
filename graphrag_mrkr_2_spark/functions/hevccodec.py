"""HEVC (H.265) sample decode via a ctypes binding of the system libde265.

The container ships libde265.so.0 (decoder) and libx265 (encoder, reached
through libheif's HEIC plugin) but no ffmpeg — so the fixture/oracle path
encodes frames as lossless HEIC via ``heifcodec.encode_heif_lossless`` and
extracts the raw HEVC NAL units (hvcC parameter sets plus the
length-prefixed primary-item payload) for the decoder under test. The
reference repo has NO video ingestion at all (its only media loader is
images: ``ingestion/loaders/image_loader.py``); this backs the
LLM-pipeline brief's multimodal video seam, widening
``sample_video_frames``'s real-decode coverage (MJPEG-AVI, animated
GIF/WEBP, AV1-in-WebM) to HEVC — the dominant ISOBMFF crawl codec.

Unlike the dav1d/aom bindings (``av1codec.py``), libde265's public API is
entirely opaque pointers + accessor functions (de265.h), so there is no
struct-layout pinning to maintain: every field we read has a dedicated
exported getter.

Scale posture: decode runs inside Arrow-batched ``mapInPandas`` workers
(one decoder context per payload, no shared state), so it parallelizes
with partition count like every other codec kernel here.
"""

from __future__ import annotations

import ctypes
import struct

import numpy as np

from graphrag_mrkr_2_spark.functions.nativecodecs import load_library

# Shared layout convention with av1codec: 0=mono, 1=420, 2=422, 3=444.
# de265_chroma uses the same numbering (de265.h: de265_chroma_mono=0,
# _420=1, _422=2, _444=3), so planes flow into the same RGB kernels.
_LAYOUT_I400, _LAYOUT_I420, _LAYOUT_I422, _LAYOUT_I444 = 0, 1, 2, 3

_DE265_CANDIDATES = ("libde265.so.0", "libde265.so")
_VP, _INT = ctypes.c_void_p, ctypes.c_int
_DE265_PROTOTYPES = {
    "de265_new_decoder": (_VP, []),
    "de265_free_decoder": (_INT, [_VP]),
    # de265_error de265_push_NAL(ctx, const void*, int, de265_PTS (int64),
    #                            void* user)
    "de265_push_NAL": (_INT, [_VP, ctypes.c_char_p, _INT, ctypes.c_int64,
                              _VP]),
    "de265_flush_data": (_INT, [_VP]),
    "de265_decode": (_INT, [_VP, ctypes.POINTER(_INT)]),
    "de265_peek_next_picture": (_VP, [_VP]),
    "de265_release_next_picture": (None, [_VP]),
    "de265_get_image_width": (_INT, [_VP, _INT]),
    "de265_get_image_height": (_INT, [_VP, _INT]),
    "de265_get_chroma_format": (_INT, [_VP]),
    "de265_get_bits_per_pixel": (_INT, [_VP, _INT]),
    "de265_get_image_plane": (ctypes.POINTER(ctypes.c_uint8),
                              [_VP, _INT, ctypes.POINTER(_INT)]),
    "de265_get_image_matrix_coefficients": (_INT, [_VP]),
    "de265_get_image_full_range_flag": (_INT, [_VP]),
    "de265_get_error_text": (ctypes.c_char_p, [_INT]),
}


def _load_de265():
    return load_library(_DE265_CANDIDATES, _DE265_PROTOTYPES, find="de265")


def de265_available() -> bool:
    return _load_de265() is not None


def _err_text(lib, code: int) -> str:
    try:
        txt = lib.de265_get_error_text(code)
        return txt.decode("ascii", "replace") if txt else str(code)
    except Exception:
        return str(code)


# ---------------------------------------------------------------------------
# hvcC (HEVCDecoderConfigurationRecord, ISO 14496-15 §8.3.3.1) parsing and
# NAL framing helpers. hvcC carries the out-of-band VPS/SPS/PPS parameter
# sets plus lengthSizeMinusOne for the samples' length-prefixed framing.
# ---------------------------------------------------------------------------


def parse_hvcc(record: bytes) -> dict:
    """Parse an hvcC record to ``{"nal_length_size", "param_nals"}``.

    The fixed header is 22 bytes (configurationVersion through
    avgFrameRate/constantFrameRate fields); byte 21's low 2 bits are
    lengthSizeMinusOne and byte 22 is numOfArrays, each array being
    (completeness+nal_type) u8, numNalus u16, then u16-length-prefixed NAL
    units (VPS=32, SPS=33, PPS=34, prefix SEI=39 in practice).
    """
    if len(record) < 23:
        raise ValueError("hvcC record too short")
    nal_length_size = (record[21] & 0x03) + 1
    n_arrays = record[22]
    pos = 23
    params = []
    for _ in range(n_arrays):
        if pos + 3 > len(record):
            raise ValueError("hvcC truncated in NAL array header")
        n_nalus = struct.unpack_from(">H", record, pos + 1)[0]
        pos += 3
        for _ in range(n_nalus):
            if pos + 2 > len(record):
                raise ValueError("hvcC truncated in NAL length")
            (ln,) = struct.unpack_from(">H", record, pos)
            pos += 2
            if pos + ln > len(record):
                raise ValueError("hvcC truncated in NAL payload")
            params.append(record[pos:pos + ln])
            pos += ln
    return {"nal_length_size": nal_length_size, "param_nals": params}


def split_length_prefixed(data: bytes, nal_length_size: int = 4) -> list:
    """Split an ISOBMFF sample (length-prefixed NAL units) into raw NALs."""
    if nal_length_size not in (1, 2, 4):
        raise ValueError(f"invalid NAL length size {nal_length_size}")
    nals, pos, end = [], 0, len(data)
    while pos < end:
        if pos + nal_length_size > end:
            raise ValueError("truncated NAL length prefix")
        ln = int.from_bytes(data[pos:pos + nal_length_size], "big")
        pos += nal_length_size
        if ln == 0 or pos + ln > end:
            raise ValueError("truncated NAL unit in sample")
        nals.append(data[pos:pos + ln])
        pos += ln
    return nals


def heif_item_config(data: bytes, box_type: bytes = b"hvcC") -> bytes:
    """The raw codec-config record bytes (hvcC/av1C/…) of a HEIF file's
    primary item, via the pitm→ipma→ipco association walk with a
    first-matching-property fallback (mux fixture path: the record becomes
    the MP4 stsd config box / MKV CodecPrivate)."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import (
        _find_box,
        _ipma_property_indices,
        _pitm_item_id,
        _walk_boxes,
    )

    meta = _find_box(data, 0, len(data), (b"meta",))
    if meta is None:
        raise ValueError("HEIF: no meta box")
    ms, me = meta[0] + 4, meta[1]
    ipco = _find_box(data, ms, me, (b"iprp", b"ipco"))
    if ipco is None:
        raise ValueError("HEIF: no ipco box")
    props = list(_walk_boxes(data, ipco[0], ipco[1]))
    try:
        assoc = _ipma_property_indices(data, ms, me, _pitm_item_id(data, ms, me))
    except Exception:
        assoc = []
    for idx in assoc:
        if 1 <= idx <= len(props) and props[idx - 1][0] == box_type:
            _, ps, pe = props[idx - 1]
            return data[ps:pe]
    for btype, ps, pe in props:
        if btype == box_type:
            return data[ps:pe]
    raise ValueError(f"HEIF: no {box_type.decode('ascii', 'replace')} property")


def hevc_config_from_heic(heic: bytes) -> bytes:
    return heif_item_config(heic, b"hvcC")


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------


def _plane(ptr, h: int, stride: int, w: int) -> np.ndarray:
    arr = np.ctypeslib.as_array(ptr, shape=(h, stride))
    return arr[:, :w].copy()


def decode_hevc_frames_yuv(nals) -> list:
    """Decode a sequence of raw HEVC NAL units (no start codes, no length
    prefixes — parameter sets first, then slice NALs) to raw planes via
    libde265. Returns ``[(y, u, v, layout, mtrx, full_range), ...]`` in
    output order; u/v are None for monochrome. 8-bit only (crawl HEVC is
    overwhelmingly Main profile); higher bit depths raise.
    """
    lib = _load_de265()
    if lib is None:
        raise ValueError("libde265 is not available on this host")
    ctx = lib.de265_new_decoder()
    if not ctx:
        raise ValueError("de265_new_decoder failed")
    frames = []
    try:
        for nal in nals:
            nal = bytes(nal)
            if not nal:
                continue
            err = lib.de265_push_NAL(ctx, nal, len(nal), 0, None)
            if err != 0:
                raise ValueError(
                    f"de265_push_NAL failed: {_err_text(lib, err)}")
        err = lib.de265_flush_data(ctx)
        if err != 0:
            raise ValueError(f"de265_flush_data failed: {_err_text(lib, err)}")
        more = ctypes.c_int(1)
        while more.value:
            err = lib.de265_decode(ctx, ctypes.byref(more))
            if err != 0:
                # after flush_data the only non-OK outcomes are real
                # bitstream errors; surface them (callers quarantine)
                raise ValueError(f"de265_decode failed: {_err_text(lib, err)}")
            # peek/release, NOT de265_get_next_picture: get = peek + pop
            # (de265.cc), so a release after get would silently discard a
            # SECOND queued picture whenever one decode call outputs ≥2
            # frames (DPB flush on B-frame streams; the output queue holds
            # up to 5 pictures). Drain the WHOLE queue after every decode
            # call — the loop exits on more==0 and any picture left queued
            # then would be lost.
            while True:
                img = lib.de265_peek_next_picture(ctx)
                if not img:
                    break
                try:
                    layout = lib.de265_get_chroma_format(img)
                    if lib.de265_get_bits_per_pixel(img, 0) != 8:
                        raise ValueError("unsupported HEVC bit depth (not 8)")
                    w = lib.de265_get_image_width(img, 0)
                    h = lib.de265_get_image_height(img, 0)
                    if w <= 0 or h <= 0 or w * h > 100_000_000:
                        raise ValueError(f"implausible HEVC dims {w}x{h}")
                    stride = ctypes.c_int()
                    y = _plane(lib.de265_get_image_plane(
                        img, 0, ctypes.byref(stride)), h, stride.value, w)
                    if layout == _LAYOUT_I400:
                        u = v = None
                    else:
                        cw = lib.de265_get_image_width(img, 1)
                        ch = lib.de265_get_image_height(img, 1)
                        cstride = ctypes.c_int()
                        u = _plane(lib.de265_get_image_plane(
                            img, 1, ctypes.byref(cstride)),
                            ch, cstride.value, cw)
                        v = _plane(lib.de265_get_image_plane(
                            img, 2, ctypes.byref(cstride)),
                            ch, cstride.value, cw)
                    mtrx = lib.de265_get_image_matrix_coefficients(img)
                    full_range = lib.de265_get_image_full_range_flag(img)
                    frames.append((y, u, v, layout, mtrx, full_range))
                finally:
                    lib.de265_release_next_picture(ctx)
        if not frames and any(nals):
            # de265 silently skips NALs it can't type (reserved/garbage);
            # zero pictures out of nonempty input is a corrupt payload —
            # raise so callers quarantine instead of emitting nothing
            raise ValueError("no decodable HEVC frames in stream")
        return frames
    finally:
        lib.de265_free_decoder(ctx)


def decode_hevc_frames(nals, width: int = None, height: int = None) -> list:
    """Decode raw HEVC NALs to RGB ``(h, w, 3) uint8`` frames.

    Same conversion contract as ``av1codec.decode_av1_frames`` with
    ``matrix='auto'``: the stream's own VUI matrix_coefficients pick it —
    0 + 4:4:4 → identity/GBR plane permutation (the lossless fixture
    config, bit-exact), anything else → BT.601 with the VP8 kernel's
    fixed-point coefficients. The conversion choice is NOT part of the
    decoder conformance surface — parity tests compare raw planes or
    run the bit-exact identity config.

    ``width``/``height`` crop the top-left window: libheif's x265 plugin
    pads frames to CTU multiples and signals the display size only at the
    container layer (HEIC ispe / MP4 tkhd / MKV PixelWidth), so callers
    pass the container dims through here."""
    from graphrag_mrkr_2_spark.functions.av1codec import _yuv_to_rgb

    out = []
    for y, u, v, layout, mtrx, _full in decode_hevc_frames_yuv(nals):
        if u is None:
            rgb = np.repeat(y[:, :, None], 3, axis=2)
        else:
            m = "identity" if mtrx == 0 and layout == _LAYOUT_I444 else "bt601"
            rgb = _yuv_to_rgb(y, u, v, layout, m)
        if width is not None and height is not None:
            if width > rgb.shape[1] or height > rgb.shape[0]:
                raise ValueError(
                    f"crop {width}x{height} exceeds coded "
                    f"{rgb.shape[1]}x{rgb.shape[0]}")
            rgb = rgb[:height, :width]
        out.append(rgb)
    return out


def encode_hevc_samples(frames) -> tuple:
    """Encode RGB frames to ``(hvcc_record, samples)`` — one length-prefixed
    all-intra HEVC sample per frame — by running libheif's x265 encoder
    once per frame and extracting the bitstream (fixture/oracle path, like
    ``heifcodec.encode_heif_lossless`` itself). Each frame is an IDR with
    identical parameter sets (same encoder config + dims), so the first
    frame's hvcC serves the whole stream; a mismatch raises rather than
    silently shipping a broken fixture."""
    from graphrag_mrkr_2_spark.functions.heifcodec import encode_heif_lossless

    record = None
    samples = []
    for px in frames:
        heic = encode_heif_lossless(np.asarray(px), fmt="heic", chroma="444")
        rec = hevc_config_from_heic(heic)
        cfg = parse_hvcc(rec)
        payload = b"".join(
            len(n).to_bytes(4, "big") + n
            for n in split_length_prefixed(
                _primary_payload(heic), cfg["nal_length_size"])
        )
        if record is None:
            record = _force_length4(rec)
        elif parse_hvcc(record)["param_nals"] != cfg["param_nals"]:
            raise ValueError("HEIC fixture frames disagree on parameter sets")
        samples.append(payload)
    if record is None:
        raise ValueError("no frames to encode")
    return record, samples


def _primary_payload(heic: bytes) -> bytes:
    from graphrag_mrkr_2_spark.functions.av1codec import avif_primary_obu

    return avif_primary_obu(heic)


def _force_length4(record: bytes) -> bytes:
    """Normalize an hvcC record's lengthSizeMinusOne to 3 (4-byte NAL
    lengths) to match the re-framed samples ``encode_hevc_samples``
    emits."""
    rec = bytearray(record)
    rec[21] = (rec[21] & 0xFC) | 0x03
    return bytes(rec)
