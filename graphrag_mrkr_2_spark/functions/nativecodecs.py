"""Native (system-codec) image decoders for the ``image_features`` seam.

The pure-stdlib kernels (``functions/imagecodecs.py`` + ``jpegcodec`` +
``webpcodec`` + ``vp8codec``) are the correctness anchors — each is
conformance-tested bit-identical against an independent implementation
(libwebp via ctypes, the IJG/libjpeg family via the JDK writer and a
libjpeg C harness).  But pure-Python JPEG (~12.7 ms/img) and lossy-WEBP
(~8.3 ms/img) decode dominate the decode stage (SCALE.md "image decode
cost"); on a 100 TB JPEG-heavy crawl you inject the system codec instead.
This module IS that injection: ctypes bindings to the system libwebp and a
tiny compiled libjpeg shim, packaged as a picklable callable that plugs
into ``operators.multimodal.image_features(decoder=...)`` without changing
the operator's plan shape (same ``mapInPandas``, same Arrow batches).

Parity contract (enforced by ``tests/test_nativecodecs.py`` over the
conformance corpus): for every payload both paths decode, the native
pixels equal the pure pixels exactly — RGB planes bit-identical, and where
the pure path returns no alpha plane the native alpha is constant 255.

Reference analog: ``ingestion/loaders/image_loader.py:15`` wraps a native
image stack behind a Python seam; this is the Spark-side equivalent, with
the pure kernels as the always-available fallback (the reference has no
fallback — no codec means no load).

Cluster note: the shim compiles once per host into ``.native_cache/`` next
to the repo (atomic rename, race-safe across executor threads); on a real
multi-host cluster you ship the prebuilt ``.so`` via ``spark-submit
--files`` or bake it into the image — the loader checks the cache before
compiling, so either works.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import functools
import os
import subprocess
import threading
from typing import Optional

import numpy as np

# (find, *candidates) -> the bound CDLL, or None when unavailable
_LIBRARIES: dict = {}
# guards _LIBRARIES and the JPEG shim compile, whose scratch file names are
# unique per process, not per thread
_LOAD_LOCK = threading.Lock()


def load_library(candidates, prototypes, find=None):
    """The one loader of native libraries: a ``ctypes.CDLL`` for the first
    of ``ctypes.util.find_library(find)`` and ``candidates`` (sonames or
    paths) that loads, with each ``{symbol: (restype, argtypes)}`` entry of
    ``prototypes`` bound. None when none loads or a symbol is missing: a
    library too old to export one counts as unavailable, not as a crash.
    Each ``(find, candidates)`` loads once per process, bound to the table
    of its first call."""
    key = (find, *candidates)
    with _LOAD_LOCK:
        if key not in _LIBRARIES:
            _LIBRARIES[key] = _bind(
                (ctypes.util.find_library(find) if find else None, *candidates),
                prototypes)
        return _LIBRARIES[key]


def _bind(names, prototypes):
    for name in filter(None, names):
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            continue
        try:
            for symbol, (restype, argtypes) in prototypes.items():
                fn = getattr(lib, symbol)
                fn.restype, fn.argtypes = restype, argtypes
        except AttributeError:
            return None
        return lib
    return None


# ---------------------------------------------------------------------------
# libwebp (no compile needed — the distro ships the full decode API)
# ---------------------------------------------------------------------------

_WEBP_CANDIDATES = (
    "libwebp.so.7",
    "libwebp.so",
    "/usr/lib/x86_64-linux-gnu/libwebp.so.7",
)
_WEBP_PROTOTYPES = {
    "WebPDecodeRGBA": (
        ctypes.POINTER(ctypes.c_uint8),
        [ctypes.c_char_p, ctypes.c_size_t, ctypes.POINTER(ctypes.c_int),
         ctypes.POINTER(ctypes.c_int)]),
    # WebPFree needs libwebp >= 0.5
    "WebPFree": (None, [ctypes.c_void_p]),
}


def _load_webp():
    return load_library(_WEBP_CANDIDATES, _WEBP_PROTOTYPES, find="webp")


def webp_available() -> bool:
    return _load_webp() is not None


def decode_webp_native(data: bytes) -> Optional[np.ndarray]:
    """WEBP -> (h, w, 4) uint8 RGBA via the system libwebp, or None when the
    library is absent or rejects the payload (e.g. animated files, which
    need the demuxer — the caller falls back to the pure kernel)."""
    lib = _load_webp()
    if lib is None:
        return None
    w = ctypes.c_int()
    h = ctypes.c_int()
    buf = lib.WebPDecodeRGBA(data, len(data), ctypes.byref(w), ctypes.byref(h))
    if not buf:
        return None
    try:
        n = w.value * h.value * 4
        out = np.ctypeslib.as_array(buf, shape=(n,)).copy()
    finally:
        lib.WebPFree(ctypes.cast(buf, ctypes.c_void_p))
    return out.reshape(h.value, w.value, 4)


# ---------------------------------------------------------------------------
# libjpeg — a ~40-line C shim compiled once per host (jpeg_mem_src +
# jpeg_read_scanlines at library defaults: integer islow IDCT, fancy
# upsampling — the exact configuration the pure kernel reproduces)
# ---------------------------------------------------------------------------

_JPEG_SHIM_SRC = r"""
#include <stddef.h>
#include <stdio.h>
#include <stdlib.h>
#include <setjmp.h>
#include <jpeglib.h>

struct shim_err { struct jpeg_error_mgr pub; jmp_buf jb; };

static void shim_error_exit(j_common_ptr cinfo) {
  struct shim_err *e = (struct shim_err *)cinfo->err;
  longjmp(e->jb, 1);
}

/* Decode to the library-default colorspace (RGB for YCbCr, grayscale
 * stays 1-component).  Returns a malloc'd h*w*comps buffer, or NULL on
 * any decode error (the Python caller then falls back to the pure
 * kernel / quarantine path).  Caller frees via shim_free. */
unsigned char *shim_decode_jpeg(const unsigned char *buf, unsigned long len,
                                int *w, int *h, int *comps) {
  struct jpeg_decompress_struct cinfo;
  struct shim_err jerr;
  unsigned char *out = NULL;
  cinfo.err = jpeg_std_error(&jerr.pub);
  jerr.pub.error_exit = shim_error_exit;
  if (setjmp(jerr.jb)) {
    jpeg_destroy_decompress(&cinfo);
    free(out);
    return NULL;
  }
  jpeg_create_decompress(&cinfo);
  jpeg_mem_src(&cinfo, buf, len);
  if (jpeg_read_header(&cinfo, TRUE) != JPEG_HEADER_OK) {
    jpeg_destroy_decompress(&cinfo);
    return NULL;
  }
  jpeg_start_decompress(&cinfo);
  *w = (int)cinfo.output_width;
  *h = (int)cinfo.output_height;
  *comps = (int)cinfo.output_components;
  size_t stride = (size_t)cinfo.output_width * (size_t)cinfo.output_components;
  out = (unsigned char *)malloc(stride * (size_t)cinfo.output_height);
  if (out == NULL) {
    jpeg_destroy_decompress(&cinfo);
    return NULL;
  }
  while (cinfo.output_scanline < cinfo.output_height) {
    unsigned char *rowp = out + stride * (size_t)cinfo.output_scanline;
    jpeg_read_scanlines(&cinfo, &rowp, 1);
  }
  jpeg_finish_decompress(&cinfo);
  jpeg_destroy_decompress(&cinfo);
  return out;
}

void shim_free(unsigned char *p) { free(p); }
"""

_SHIM_BASENAME = "jpeg_shim_v1"


def _cache_dir() -> str:
    here = os.path.dirname(os.path.abspath(__file__))
    return os.path.join(os.path.dirname(os.path.dirname(here)), ".native_cache")


def _compile_jpeg_shim(cache: str) -> Optional[str]:
    """Compile the shim into the cache dir (atomic, race-safe). Returns the
    .so path or None when no compiler / headers / libjpeg are available."""
    so_path = os.path.join(cache, _SHIM_BASENAME + ".so")
    if os.path.exists(so_path):
        return so_path
    os.makedirs(cache, exist_ok=True)
    # pid-suffix the SOURCE too: N worker processes racing here must not
    # truncate the .c file mid-gcc of a sibling — a lost race would cache
    # lib=None for that worker's lifetime and silently skew the
    # native-vs-pure bench pair (review r6 finding #3)
    src_path = os.path.join(cache, f"{_SHIM_BASENAME}.{os.getpid()}.c")
    tmp_so = so_path + f".tmp.{os.getpid()}"
    try:
        with open(src_path, "w") as fh:
            fh.write(_JPEG_SHIM_SRC)
        subprocess.run(
            ["gcc", "-O2", "-shared", "-fPIC", "-o", tmp_so, src_path, "-ljpeg"],
            check=True,
            capture_output=True,
            timeout=120,
        )
        os.replace(tmp_so, so_path)  # atomic: concurrent compiles converge
        return so_path
    except (OSError, subprocess.SubprocessError):
        try:
            os.unlink(tmp_so)
        except OSError:
            pass
        return None
    finally:
        try:
            os.unlink(src_path)
        except OSError:
            pass


_JPEG_SHIM_PROTOTYPES = {
    "shim_decode_jpeg": (
        ctypes.POINTER(ctypes.c_uint8),
        [ctypes.c_char_p, ctypes.c_ulong, ctypes.POINTER(ctypes.c_int),
         ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]),
    "shim_free": (None, [ctypes.POINTER(ctypes.c_uint8)]),
}


@functools.cache
def _jpeg_shim_path() -> Optional[str]:
    with _LOAD_LOCK:
        return _compile_jpeg_shim(_cache_dir())


def _load_jpeg_shim():
    so_path = _jpeg_shim_path()
    return None if so_path is None else load_library(
        (so_path,), _JPEG_SHIM_PROTOTYPES)


def jpeg_available() -> bool:
    return _load_jpeg_shim() is not None


def decode_jpeg_native(data: bytes) -> Optional[np.ndarray]:
    """JPEG -> (h, w, 3) uint8 RGB / (h, w, 1) grayscale via the system
    libjpeg, or None when the shim is unavailable, the payload fails to
    decode, or the output colorspace is one the pure kernel doesn't speak
    (CMYK) — the caller falls back to the pure kernel either way."""
    lib = _load_jpeg_shim()
    if lib is None:
        return None
    w = ctypes.c_int()
    h = ctypes.c_int()
    comps = ctypes.c_int()
    buf = lib.shim_decode_jpeg(
        data, len(data), ctypes.byref(w), ctypes.byref(h), ctypes.byref(comps)
    )
    if not buf:
        return None
    try:
        if comps.value not in (1, 3):
            return None
        n = w.value * h.value * comps.value
        out = np.ctypeslib.as_array(buf, shape=(n,)).copy()
    finally:
        lib.shim_free(buf)
    return out.reshape(h.value, w.value, comps.value)


# ---------------------------------------------------------------------------
# The injectable decoder object
# ---------------------------------------------------------------------------


class NativeImageDecoder:
    """Picklable decoder for ``image_features(decoder=...)``.

    Holds only plain config so Spark can ship it to executors; the ctypes
    handles load lazily, once per worker process (``load_library``).
    ``__call__(payload, fmt)`` returns decoded pixels or None — None means
    "not mine / native rejected it", and the operator falls back to the
    pure kernel, so injection can never lose a payload the pure path
    handles (e.g. animated WEBP, which libwebp's one-shot API rejects).
    """

    def __init__(self, formats: tuple = ("jpeg", "webp", "avif", "heic")):
        self.formats = tuple(formats)

    def __call__(self, payload: bytes, fmt: str) -> Optional[np.ndarray]:
        if fmt == "jpeg" and "jpeg" in self.formats:
            return decode_jpeg_native(payload)
        if fmt == "webp" and "webp" in self.formats:
            return decode_webp_native(payload)
        if fmt in ("avif", "heic") and fmt in self.formats:
            # AVIF/HEIC have NO pure-kernel fallback (a full AV1/HEVC
            # decoder is out of scope) — without this injection the
            # operator quarantines them, so unlike jpeg/webp this branch
            # WIDENS coverage rather than just accelerating it. None on
            # missing libheif keeps the quarantine semantics.
            from graphrag_mrkr_2_spark.functions.heifcodec import (
                decode_heif_native,
                heif_available,
            )

            if not heif_available(fmt):
                return None
            return decode_heif_native(payload)
        return None

    def available_formats(self) -> tuple:
        """Formats this host can actually accelerate (for logging/bench)."""
        from graphrag_mrkr_2_spark.functions.heifcodec import heif_available

        out = []
        if "jpeg" in self.formats and jpeg_available():
            out.append("jpeg")
        if "webp" in self.formats and webp_available():
            out.append("webp")
        for fmt in ("avif", "heic"):
            if fmt in self.formats and heif_available(fmt):
                out.append(fmt)
        return tuple(out)
