"""AVIF/HEIC decode (and test-fixture encode) via the system libheif.

The HEIF family (AVIF = AV1-in-HEIF, HEIC = HEVC-in-HEIF) carries a full
video codec per image — a from-scratch AV1/HEVC entropy decoder is out of
scope, so AVIF/HEIC decode rides the ``image_features(decoder=...)``
injection seam (``functions/nativecodecs.py``) instead of the pure-stdlib
kernel path. This module is the binding: ctypes over libheif's stable
opaque-pointer C API (no struct-layout guessing beyond the tiny public
``heif_error``/nclx value types), dispatching to the distro's dav1d/libde265
decoder plugins.

Correctness anchor: libheif on this host also ships the aom AV1 and x265
HEVC *encoder* plugins, so the tests build real AVIF/HEIC payloads and
require the decode round trip to be BIT-EXACT. Exactness needs the
identity (GBR) matrix: RGB planes are fed to the encoder as YCbCr 4:4:4
with nclx ``matrix_coefficients=0, full_range=1`` (Y=G, Cb=B, Cr=R per
ISO 23091-2) and ``lossless`` + ``chroma=444`` set on the encoder —
routing through libheif's default BT.601 conversion instead costs a ±1
rounding error each direction and would make every conformance assertion
a tolerance test.

Reference analog: the reference's only image ingestion is OCR over
PIL-decoded rasters (``ingestion/loaders/image_loader.py``) and has no
AVIF/HEIC path at all; this closes the format for the 100-TB crawl brief
(AVIF is the fastest-growing raster on the public web). Metadata probing
is independent of this module — ``functions/mediaprobe.probe_heif`` reads
dims/codec/duration from the item-property boxes with no codec at all.
"""

from __future__ import annotations

import ctypes
import os
import tempfile

import numpy as np

from graphrag_mrkr_2_spark.functions.nativecodecs import load_library

_HEIF_CANDIDATES = (
    "libheif.so.1",
    "libheif.so",
    "/usr/lib/x86_64-linux-gnu/libheif.so.1",
)

# public enums (libheif.h, stable since 1.0)
_COLORSPACE_RGB = 1
_CHROMA_INTERLEAVED_RGB = 10
_CHROMA_INTERLEAVED_RGBA = 11
_CHANNEL_INTERLEAVED = 10
_COMPRESSION_HEVC = 1
_COMPRESSION_AV1 = 4


class _HeifError(ctypes.Structure):
    _fields_ = [
        ("code", ctypes.c_int),
        ("subcode", ctypes.c_int),
        ("message", ctypes.c_char_p),
    ]


class _Nclx(ctypes.Structure):
    # struct heif_color_profile_nclx (value layout is public API)
    _fields_ = [
        ("version", ctypes.c_uint8),
        ("color_primaries", ctypes.c_int),
        ("transfer_characteristics", ctypes.c_int),
        ("matrix_coefficients", ctypes.c_int),
        ("full_range_flag", ctypes.c_uint8),
    ]


_VP, _INT = ctypes.c_void_p, ctypes.c_int
_P, _U8P = ctypes.POINTER, ctypes.POINTER(ctypes.c_uint8)
# a libheif without one of these symbols (1.6.x lacks
# heif_have_decoder_for_format) counts as unavailable
_HEIF_PROTOTYPES = {
    "heif_context_alloc": (_VP, []),
    "heif_context_free": (None, [_VP]),
    "heif_context_read_from_memory_without_copy": (
        _HeifError, [_VP, _VP, ctypes.c_size_t, _VP]),
    "heif_context_get_primary_image_handle": (_HeifError, [_VP, _P(_VP)]),
    "heif_image_handle_get_width": (_INT, [_VP]),
    "heif_image_handle_get_height": (_INT, [_VP]),
    "heif_image_handle_has_alpha_channel": (_INT, [_VP]),
    "heif_decode_image": (_HeifError, [_VP, _P(_VP), _INT, _INT, _VP]),
    "heif_image_get_plane_readonly": (_U8P, [_VP, _INT, _P(_INT)]),
    "heif_image_get_width": (_INT, [_VP, _INT]),
    "heif_image_get_height": (_INT, [_VP, _INT]),
    "heif_image_release": (None, [_VP]),
    "heif_image_handle_release": (None, [_VP]),
    "heif_have_decoder_for_format": (_INT, [_INT]),
    "heif_have_encoder_for_format": (_INT, [_INT]),
    "heif_context_get_encoder_for_format": (_HeifError, [_VP, _INT, _P(_VP)]),
    "heif_encoder_release": (None, [_VP]),
    "heif_encoder_set_lossless": (_HeifError, [_VP, _INT]),
    "heif_encoder_set_parameter_string": (
        _HeifError, [_VP, ctypes.c_char_p, ctypes.c_char_p]),
    "heif_encoder_set_parameter_integer": (
        _HeifError, [_VP, ctypes.c_char_p, _INT]),
    "heif_image_create": (_HeifError, [_INT, _INT, _INT, _INT, _P(_VP)]),
    "heif_image_add_plane": (_HeifError, [_VP, _INT, _INT, _INT, _INT]),
    "heif_image_get_plane": (_U8P, [_VP, _INT, _P(_INT)]),
    "heif_image_set_nclx_color_profile": (_HeifError, [_VP, _VP]),
    "heif_nclx_color_profile_alloc": (_VP, []),
    "heif_nclx_color_profile_free": (None, [_VP]),
    "heif_context_encode_image": (_HeifError, [_VP, _VP, _VP, _VP, _P(_VP)]),
    "heif_context_write_to_file": (_HeifError, [_VP, ctypes.c_char_p]),
    "heif_encoding_options_alloc": (_VP, []),
    "heif_encoding_options_free": (None, [_VP]),
}


def _load_heif():
    return load_library(_HEIF_CANDIDATES, _HEIF_PROTOTYPES, find="heif")


def _check(err: _HeifError, what: str) -> None:
    if err.code != 0:
        msg = (err.message or b"").decode("utf-8", "replace")
        raise ValueError(f"libheif {what} failed ({err.code}/{err.subcode}): {msg}")


def heif_available(fmt: str = "avif") -> bool:
    """True when libheif + the decoder plugin for ``fmt`` are loadable."""
    lib = _load_heif()
    if lib is None:
        return False
    comp = _COMPRESSION_AV1 if fmt == "avif" else _COMPRESSION_HEVC
    return bool(lib.heif_have_decoder_for_format(comp))


def heif_encoder_available(fmt: str = "avif") -> bool:
    """True when the host can also ENCODE ``fmt`` (test fixtures only)."""
    lib = _load_heif()
    if lib is None:
        return False
    comp = _COMPRESSION_AV1 if fmt == "avif" else _COMPRESSION_HEVC
    return bool(lib.heif_have_encoder_for_format(comp))


def decode_heif_native(data: bytes) -> np.ndarray:
    """Decode an AVIF/HEIC payload to ``(h, w, 3|4) uint8`` via libheif.

    Alpha is preserved (interleaved RGBA) when the primary item carries an
    alpha auxiliary; plain images come back RGB. Raises ValueError on any
    libheif error — ``image_features`` quarantines per payload.
    """
    lib = _load_heif()
    if lib is None:
        raise ValueError("libheif is not available on this host")
    ctx = lib.heif_context_alloc()
    if not ctx:
        raise ValueError("libheif context allocation failed")
    handle = ctypes.c_void_p()
    img = ctypes.c_void_p()
    # without_copy: the buffer must outlive the context — it does (locals)
    buf = ctypes.create_string_buffer(data, len(data))
    try:
        _check(lib.heif_context_read_from_memory_without_copy(
            ctx, buf, len(data), None), "read")
        _check(lib.heif_context_get_primary_image_handle(
            ctx, ctypes.byref(handle)), "primary handle")
        w = lib.heif_image_handle_get_width(handle)
        h = lib.heif_image_handle_get_height(handle)
        if w <= 0 or h <= 0 or w * h > 100_000_000:
            raise ValueError(f"implausible HEIF dims {w}x{h}")
        has_alpha = bool(lib.heif_image_handle_has_alpha_channel(handle))
        chroma = _CHROMA_INTERLEAVED_RGBA if has_alpha else _CHROMA_INTERLEAVED_RGB
        channels = 4 if has_alpha else 3
        _check(lib.heif_decode_image(
            handle, ctypes.byref(img), _COLORSPACE_RGB, chroma, None), "decode")
        stride = ctypes.c_int()
        ptr = lib.heif_image_get_plane_readonly(
            img, _CHANNEL_INTERLEAVED, ctypes.byref(stride))
        if not ptr:
            raise ValueError("libheif returned no interleaved plane")
        rows = np.ctypeslib.as_array(ptr, shape=(h, stride.value))
        return rows[:, : w * channels].reshape(h, w, channels).copy()
    finally:
        if img:
            lib.heif_image_release(img)
        if handle:
            lib.heif_image_handle_release(handle)
        lib.heif_context_free(ctx)


def encode_heif_lossless(px: np.ndarray, fmt: str = "avif",
                         chroma: str = "444") -> bytes:
    """Encode ``(h, w, 1|3|4) uint8`` pixels to a LOSSLESS AVIF/HEIC payload.

    Test-fixture path (conformance corpus + probe oracles), not a pipeline
    stage: the interleaved RGB(A) image carries an identity-matrix nclx
    (matrix 0 / GBR, full range) so libheif's RGB→YCbCr step is a plane
    permutation, not a BT.601 rounding — ``decode_heif_native`` must then
    reproduce the input bit-exactly (alpha included); any tolerance would
    mask binding bugs. Empirically pinned quirks on libheif 1.15: the nclx
    must be set on the IMAGE (the encoding-options nclx is ignored for the
    conversion), and the encoding options must be the alloc'd defaults —
    passing NULL options silently drops the alpha plane.

    ``chroma='420'`` trades the RGB bit-exactness away (subsampling) for
    layout coverage — fixtures that exercise decoders' 4:2:0 path, the
    layout real crawl video actually uses.
    """
    lib = _load_heif()
    if lib is None:
        raise ValueError("libheif is not available on this host")
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3, 4):
        raise ValueError(f"expected (h, w, 1|3|4) uint8, got {px.shape}")
    if px.shape[2] == 1:
        px = np.repeat(px, 3, axis=2)
    px = np.ascontiguousarray(px, dtype=np.uint8)
    h, w = px.shape[:2]
    channels = px.shape[2]
    interleave = (_CHROMA_INTERLEAVED_RGBA if channels == 4
                  else _CHROMA_INTERLEAVED_RGB)
    comp = _COMPRESSION_AV1 if fmt == "avif" else _COMPRESSION_HEVC
    ctx = lib.heif_context_alloc()
    enc = ctypes.c_void_p()
    img = ctypes.c_void_p()
    handle = ctypes.c_void_p()
    nclx = None
    opts = None
    try:
        _check(lib.heif_context_get_encoder_for_format(
            ctx, comp, ctypes.byref(enc)), "get encoder")
        _check(lib.heif_encoder_set_lossless(enc, 1), "set lossless")
        _check(lib.heif_encoder_set_parameter_string(
            enc, b"chroma", chroma.encode()), "chroma")
        # fastest settings: this is a fixture encoder — losslessness is a
        # property of the quantizer config, not the speed preset, and the
        # decode side (the thing under test) is unaffected. Measured at
        # 16x12: aom 3.9→2.6 ms (speed 9), x265 71.7→51.8 ms (ultrafast).
        try:
            if comp == _COMPRESSION_AV1:
                _check(lib.heif_encoder_set_parameter_integer(
                    enc, b"speed", 9), "speed")
            else:
                _check(lib.heif_encoder_set_parameter_string(
                    enc, b"preset", b"ultrafast"), "preset")
        except ValueError:
            pass  # older plugin without the tuning knob: just slower
        _check(lib.heif_image_create(
            w, h, _COLORSPACE_RGB, interleave, ctypes.byref(img)), "image")
        _check(lib.heif_image_add_plane(
            img, _CHANNEL_INTERLEAVED, w, h, 8), "plane")
        stride = ctypes.c_int()
        ptr = lib.heif_image_get_plane(
            img, _CHANNEL_INTERLEAVED, ctypes.byref(stride))
        np.ctypeslib.as_array(ptr, shape=(h, stride.value))[:, : w * channels] = \
            px.reshape(h, w * channels)
        if chroma == "444":
            nclx = lib.heif_nclx_color_profile_alloc()
            prof = _Nclx.from_address(nclx)
            prof.color_primaries = 1  # BT.709 (cosmetic under identity)
            prof.transfer_characteristics = 13  # sRGB
            prof.matrix_coefficients = 0  # identity / GBR: the lossless key
            prof.full_range_flag = 1
            _check(lib.heif_image_set_nclx_color_profile(img, nclx), "nclx")
        # 420: identity (GBR) is spec-illegal with subsampling — libheif
        # ABORTS on it; let the default BT.601 conversion apply instead
        opts = lib.heif_encoding_options_alloc()
        _check(lib.heif_context_encode_image(
            ctx, img, enc, opts, ctypes.byref(handle)), "encode")
        fd, path = tempfile.mkstemp(suffix=f".{fmt}")
        os.close(fd)
        try:
            _check(lib.heif_context_write_to_file(ctx, path.encode()), "write")
            with open(path, "rb") as fh:
                return fh.read()
        finally:
            os.unlink(path)
    finally:
        if handle:
            lib.heif_image_handle_release(handle)
        if img:
            lib.heif_image_release(img)
        if enc:
            lib.heif_encoder_release(enc)
        if nclx:
            lib.heif_nclx_color_profile_free(nclx)
        if opts:
            lib.heif_encoding_options_free(opts)
        lib.heif_context_free(ctx)
