"""HTTP response payload handling for the webtext path: header parsing,
chunked transfer decoding, and the Content-Encoding chain
(gzip/deflate/br/zstd).

Common Crawl WARC 'response' records carry the verbatim HTTP response —
headers, often Transfer-Encoding: chunked framing, and a compressed body
(Content-Encoding: gzip dominates, br is ubiquitous on modern CDNs, zstd is
RFC 8878's registered token). The reference (danve93/graphrag-mrkr-2) has
no HTTP layer at all — its loaders start from decoded text — so this module
is what makes the WARC loader produce the bytes a browser would have seen.

One decoder per Content-Encoding token: gzip/deflate ride stdlib zlib
(bounded, multi-member gzip, raw-deflate fallback for the classic server
bug); br rides the system libbrotlidec and zstd the system libzstd, both
through ctypes and loaded once per process by soname (libbrotlidec.so.1,
libzstd.so.1). Every executor that parses WARC records therefore needs
both libraries; a missing one raises OSError and fails the task instead
of quarantining every br/zstd record. encode_brotli_native (libbrotlienc),
encode_brotli_uncompressed and encode_zstd_native build fixtures and bench
inputs.

Every decode is bounded by ``MAX_OUTPUT`` (decompression-bomb guard: a
format-valid gzip or brotli stream expands ~1e3..1e6:1, and a crawl WILL
contain hostile payloads).
"""

from __future__ import annotations

import ctypes
import zlib

from graphrag_mrkr_2_spark.functions.nativecodecs import load_library

MAX_OUTPUT = 64 << 20  # 64 MiB decompressed per payload
# libbrotlienc window bits and mode (0 = generic) of the fixture encoder
BROTLI_LGWIN = 22
BROTLI_MODE = 0


def parse_http_response(raw: bytes):
    """Split a raw HTTP/1.x response into (status_code, headers, body).

    Headers are lower-cased; duplicate header names are comma-joined (RFC
    9110 §5.2 list semantics). Tolerates LF-only line endings (seen in
    old crawls). Raises ValueError when the bytes do not start with an
    HTTP status line."""
    if not raw.startswith(b"HTTP/"):
        raise ValueError("not an HTTP response")
    sep = raw.find(b"\r\n\r\n")
    nsep = raw.find(b"\n\n")
    if sep < 0 or (0 <= nsep < sep):
        sep, seplen = nsep, 2
    else:
        seplen = 4
    if sep < 0:
        raise ValueError("HTTP header block not terminated")
    head = raw[:sep].decode("latin-1")
    body = raw[sep + seplen:]
    lines = head.replace("\r\n", "\n").split("\n")
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError) as e:
        raise ValueError("malformed HTTP status line") from e
    headers: dict[str, str] = {}
    last = None
    for line in lines[1:]:
        if line[:1] in (" ", "\t") and last is not None:  # obsolete folding
            headers[last] += " " + line.strip()
            continue
        if ":" not in line:
            continue
        k, v = line.split(":", 1)
        k = k.strip().lower()
        v = v.strip()
        headers[k] = f"{headers[k]}, {v}" if k in headers else v
        last = k
    return status, headers, body


def dechunk(body: bytes) -> bytes:
    """Decode Transfer-Encoding: chunked framing (RFC 9112 §7.1).

    Chunk extensions are ignored; trailers are allowed and dropped.
    Raises ValueError on malformed framing or truncation."""
    out = bytearray()
    pos = 0
    n = len(body)
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("chunked: missing chunk-size line")
        size_token = body[pos:eol].split(b";", 1)[0].strip()
        # RFC 9112 chunk-size is 1*HEXDIG — int(x, 16) alone would also
        # accept '0x2', '+2' and '1_f' (review r7 finding)
        if not size_token or any(c not in b"0123456789abcdefABCDEF"
                                 for c in size_token):
            raise ValueError("chunked: bad chunk size")
        size = int(size_token, 16)
        pos = eol + 2
        if size == 0:
            # optional trailer section, terminated by CRLF
            return bytes(out)
        if pos + size + 2 > n:
            raise ValueError("chunked: truncated chunk data")
        out += body[pos:pos + size]
        if body[pos + size:pos + size + 2] != b"\r\n":
            raise ValueError("chunked: missing chunk data CRLF")
        pos += size + 2


def _bounded_inflate(data: bytes, wbits: int, max_output: int) -> bytes:
    d = zlib.decompressobj(wbits)
    try:
        out = d.decompress(data, max_output + 1)
    except zlib.error as e:
        raise ValueError(f"deflate: {e}") from e
    if len(out) > max_output:
        raise ValueError("deflate: output exceeds max_output")
    if not d.eof:
        raise ValueError("deflate: truncated stream")
    return out


def decode_gzip(data: bytes) -> bytes:
    """Bounded multi-member gzip decode (zlib wbits 31 per member)."""
    chunks = []
    total = 0
    rest = data
    while rest:
        d = zlib.decompressobj(31)
        try:
            out = d.decompress(rest, MAX_OUTPUT - total + 1)
        except zlib.error as e:
            raise ValueError(f"gzip: {e}") from e
        total += len(out)
        if total > MAX_OUTPUT:
            raise ValueError("gzip: output exceeds max_output")
        if not d.eof:
            raise ValueError("gzip: truncated stream")
        chunks.append(out)
        rest = d.unused_data
    return b"".join(chunks)


def decode_deflate(data: bytes) -> bytes:
    """Content-Encoding: deflate — zlib-wrapped per the RFC, with the
    raw-deflate fallback for the classic IIS/server bug (a crawl sees
    both)."""
    try:
        return _bounded_inflate(data, 15, MAX_OUTPUT)
    except ValueError:
        return _bounded_inflate(data, -15, MAX_OUTPUT)


# ZSTD_inBuffer and ZSTD_outBuffer share this layout
class _ZstdBuffer(ctypes.Structure):
    _fields_ = [("ptr", ctypes.c_void_p),
                ("size", ctypes.c_size_t),
                ("pos", ctypes.c_size_t)]


_SIZE_P = ctypes.POINTER(ctypes.c_size_t)
_BYTES_PP = ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte))
# library sonames and ctypes prototypes, loaded once per process by _native
_SONAMES = {
    "brotlidec": "libbrotlidec.so.1",
    "brotlienc": "libbrotlienc.so.1",
    "zstd": "libzstd.so.1",
}
_PROTOTYPES = {
    "brotlidec": {
        "BrotliDecoderCreateInstance": (ctypes.c_void_p,
                                        [ctypes.c_void_p] * 3),
        "BrotliDecoderDecompressStream": (
            ctypes.c_int,
            [ctypes.c_void_p, _SIZE_P, _BYTES_PP, _SIZE_P, _BYTES_PP,
             _SIZE_P]),
        "BrotliDecoderDestroyInstance": (None, [ctypes.c_void_p]),
    },
    "brotlienc": {
        "BrotliEncoderCompress": (
            ctypes.c_int,
            [ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_size_t,
             ctypes.c_char_p, _SIZE_P, ctypes.c_char_p]),
    },
    "zstd": {
        "ZSTD_createDStream": (ctypes.c_void_p, []),
        "ZSTD_decompressStream": (
            ctypes.c_size_t,
            [ctypes.c_void_p, ctypes.POINTER(_ZstdBuffer),
             ctypes.POINTER(_ZstdBuffer)]),
        "ZSTD_freeDStream": (ctypes.c_size_t, [ctypes.c_void_p]),
        "ZSTD_isError": (ctypes.c_uint, [ctypes.c_size_t]),
        "ZSTD_getErrorName": (ctypes.c_char_p, [ctypes.c_size_t]),
        "ZSTD_compressBound": (ctypes.c_size_t, [ctypes.c_size_t]),
        "ZSTD_compress": (
            ctypes.c_size_t,
            [ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
             ctypes.c_size_t, ctypes.c_int]),
    },
}


def _native(name: str) -> ctypes.CDLL:
    """The system library ``name`` with its prototypes bound. A missing
    library raises OSError: the br/zstd tokens have no other decoder, so
    it must fail the task rather than quarantine every such record."""
    lib = load_library((_SONAMES[name],), _PROTOTYPES[name])
    if lib is None:
        raise OSError(f"{_SONAMES[name]} is not loadable")
    return lib


def decode_brotli_native(data: bytes) -> bytes:
    """br (RFC 7932) via the system libbrotlidec streaming API."""
    lib = _native("brotlidec")
    st = lib.BrotliDecoderCreateInstance(None, None, None)
    if not st:
        raise ValueError("libbrotlidec: instance creation failed")
    try:
        inbuf = (ctypes.c_ubyte * max(1, len(data))).from_buffer_copy(
            data or b"\x00")
        next_in = ctypes.cast(inbuf, ctypes.POINTER(ctypes.c_ubyte))
        avail_in = ctypes.c_size_t(len(data))
        chunks = []
        total = 0
        while True:
            outbuf = (ctypes.c_ubyte * 65536)()
            next_out = ctypes.cast(outbuf, ctypes.POINTER(ctypes.c_ubyte))
            avail_out = ctypes.c_size_t(len(outbuf))
            res = lib.BrotliDecoderDecompressStream(
                st, ctypes.byref(avail_in), ctypes.byref(next_in),
                ctypes.byref(avail_out), ctypes.byref(next_out), None)
            produced = len(outbuf) - avail_out.value
            if produced:
                chunks.append(bytes(outbuf[:produced]))
                total += produced
                if total > MAX_OUTPUT:
                    raise ValueError("brotli: output exceeds max_output")
            if res == 1:  # SUCCESS
                if avail_in.value:
                    raise ValueError(
                        "brotli: trailing garbage after final metablock")
                return b"".join(chunks)
            if res == 3:  # NEEDS_MORE_OUTPUT
                continue
            if res == 2:  # NEEDS_MORE_INPUT -> truncated stream
                raise ValueError("brotli: bitstream truncated")
            raise ValueError("brotli: malformed stream")
    finally:
        lib.BrotliDecoderDestroyInstance(st)


def encode_brotli_native(data: bytes, quality: int = 5) -> bytes:
    """Compress via the system libbrotlienc (fixtures and bench inputs)."""
    lib = _native("brotlienc")
    n = ctypes.c_size_t(len(data) + (len(data) >> 1) + 1024)
    buf = ctypes.create_string_buffer(n.value)
    if not lib.BrotliEncoderCompress(quality, BROTLI_LGWIN, BROTLI_MODE, len(data),
                                     data, ctypes.byref(n), buf):
        raise ValueError("libbrotlienc: compression failed")
    return buf.raw[:n.value]


def encode_brotli_uncompressed(data: bytes) -> bytes:
    """A valid RFC 7932 stream that stores ``data`` uncompressed: WBITS=16,
    a chain of ISUNCOMPRESSED metablocks (<= 65536 bytes each, MNIBBLES=4),
    then an empty ISLAST metablock. Needs no library, so fixtures can be
    built anywhere."""
    bits = []  # (value, nbits), LSB-first

    def put(v: int, n: int) -> None:
        bits.append((v, n))

    out = bytearray()
    acc = 0
    nacc = 0

    def flush_byte_boundary() -> None:
        nonlocal acc, nacc
        for v, n in bits:
            acc |= v << nacc
            nacc += n
        bits.clear()
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    put(0, 1)  # WBITS = 16
    view = memoryview(data)
    for i in range(0, len(data), 65536):
        chunk = view[i:i + 65536]
        put(0, 1)                      # ISLAST = 0
        put(0, 2)                      # MNIBBLES code 0 -> 4 nibbles
        put(len(chunk) - 1, 16)        # MLEN - 1
        put(1, 1)                      # ISUNCOMPRESSED
        flush_byte_boundary()
        if nacc:                       # align with zero padding
            out.append(acc & 0xFF)
            acc = 0
            nacc = 0
        out += chunk
    put(1, 1)  # ISLAST
    put(1, 1)  # ISLASTEMPTY
    flush_byte_boundary()
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def decode_zstd_native(data: bytes) -> bytes:
    """zstd (RFC 8878) via the system libzstd streaming API."""
    lib = _native("zstd")
    ds = lib.ZSTD_createDStream()
    if not ds:
        raise ValueError("libzstd: stream creation failed")
    try:
        src = ctypes.create_string_buffer(data, len(data))
        inb = _ZstdBuffer(ctypes.cast(src, ctypes.c_void_p), len(data), 0)
        chunks = []
        total = 0
        while True:
            in_before = inb.pos
            dst = ctypes.create_string_buffer(1 << 17)
            outb = _ZstdBuffer(ctypes.cast(dst, ctypes.c_void_p), len(dst),
                               0)
            ret = lib.ZSTD_decompressStream(ds, ctypes.byref(outb),
                                            ctypes.byref(inb))
            if lib.ZSTD_isError(ret):
                raise ValueError(
                    f"zstd: {lib.ZSTD_getErrorName(ret).decode()}")
            if outb.pos:
                chunks.append(dst.raw[:outb.pos])
                total += outb.pos
                if total > MAX_OUTPUT:
                    raise ValueError("zstd: output exceeds max_output")
            if inb.pos == len(data):
                if ret != 0:
                    raise ValueError("zstd: truncated stream")
                return b"".join(chunks)
            if outb.pos == 0 and inb.pos == in_before:
                raise ValueError("zstd: decoder made no progress")
    finally:
        lib.ZSTD_freeDStream(ds)


def encode_zstd_native(data: bytes) -> bytes:
    """One-shot zstd compress via libzstd at level 3 (fixtures and bench
    inputs)."""
    lib = _native("zstd")
    bound = lib.ZSTD_compressBound(len(data))
    dst = ctypes.create_string_buffer(bound)
    n = lib.ZSTD_compress(dst, bound, data, len(data), 3)
    if lib.ZSTD_isError(n):
        raise ValueError("zstd: compression failed")
    return dst.raw[:n]


_DECODERS = {
    "gzip": decode_gzip,
    "x-gzip": decode_gzip,
    "deflate": decode_deflate,
    "br": decode_brotli_native,
    "zstd": decode_zstd_native,
}


def decode_content_encoding(body: bytes, encoding: str | None) -> bytes:
    """Apply a Content-Encoding chain (RFC 9110 §8.4) in reverse order.
    ``encoding`` is the raw header value, e.g. ``"gzip"`` or
    ``"gzip, br"``. Unknown tokens raise ValueError (the caller decides
    whether to quarantine or keep the raw bytes)."""
    if not encoding:
        return body
    tokens = [t.strip().lower() for t in encoding.split(",") if t.strip()]
    for token in reversed(tokens):
        if token in ("identity", ""):
            continue
        dec = _DECODERS.get(token)
        if dec is None:
            raise ValueError(f"unknown content-encoding {token!r}")
        body = dec(body)
    return body


def decode_http_payload(raw: bytes):
    """Full pipeline for a WARC 'response' payload: parse the HTTP
    response, undo chunked transfer framing, undo the Content-Encoding
    chain. Returns (status, headers, body). Raises ValueError on any
    malformed layer — callers quarantine (keep the raw bytes) on error."""
    status, headers, body = parse_http_response(raw)
    te = headers.get("transfer-encoding", "")
    te_tokens = [t.strip().lower() for t in te.split(",") if t.strip()]
    if te_tokens and te_tokens[-1] == "chunked":
        body = dechunk(body)
    body = decode_content_encoding(body, headers.get("content-encoding"))
    return status, headers, body
