"""Pure-stdlib AVI (RIFF) container codec for MJPEG video (r4 — closes the
video-frame seam for the one codec chain that needs no native library:
AVI container walk + the baseline JPEG decoder in jpegcodec.py).

AVI per the public RIFF/AVI spec: 'RIFF'‹size›'AVI ' with LIST chunks;
'hdrl' carries avih (frame period in µs, frame count) and one strl per
stream; 'movi' carries the frame chunks ('00dc' = stream-0 compressed
video; MJPEG frames are ordinary JPEG byte streams). The classic MJPEG
quirk — frames written WITHOUT Huffman tables (players fall back to the
Annex-K defaults) — is handled in decode_jpeg itself.

``extract_frames`` returns the raw JPEG payloads (decode is the image
layer's job — sample_video_frames emits them as image payloads that
image_features can consume directly); the tests build playable MJPEG
AVIs for the round-trip oracle (tests/media_fixtures.py). Non-MJPEG codecs
(H.264/VP9/AV1) remain the ffmpeg-class seam.
"""

from __future__ import annotations

import struct


def parse_avi(data: bytes) -> dict:
    """Walk an AVI and return {'frames': [jpeg bytes...], 'fps': float,
    'width': int, 'height': int, 'codec': fourcc str}."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    frames: list[bytes] = []
    info = {"fps": 0.0, "width": 0, "height": 0, "codec": ""}
    # Stream index of the FIRST vids strh (hdrl precedes movi, so this is
    # resolved before any frame chunks are seen).  Frame chunks from other
    # streams (e.g. a second video or a text stream) must not interleave
    # into the sample set — match the vids stream's 2-digit prefix only.
    state = {"strh_seen": 0, "vids_stream": None}

    def walk(start: int, end: int) -> None:
        pos = start
        while pos + 8 <= end:
            fourcc = data[pos : pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_start = pos + 8
            if fourcc == b"LIST":
                walk(body_start + 4, body_start + size)
            elif fourcc == b"avih":
                (period_us,) = struct.unpack("<I", data[body_start : body_start + 4])
                if period_us:
                    info["fps"] = 1_000_000 / period_us
                info["width"], info["height"] = struct.unpack(
                    "<II", data[body_start + 32 : body_start + 40]
                )
            elif fourcc == b"strh":
                if (
                    data[body_start : body_start + 4] == b"vids"
                    and state["vids_stream"] is None
                ):
                    state["vids_stream"] = state["strh_seen"]
                    info["codec"] = data[body_start + 4 : body_start + 8].decode(
                        "ascii", "replace"
                    )
                state["strh_seen"] += 1
            elif fourcc[2:] in (b"dc", b"db") and size:
                want = b"%02d" % (state["vids_stream"] or 0)
                if fourcc[:2] == want:
                    frames.append(data[body_start : body_start + size])
            pos = body_start + size + (size & 1)

    walk(12, 8 + struct.unpack("<I", data[4:8])[0])
    return {**info, "frames": frames}


def extract_frames(data: bytes, every_ms: int = 1000) -> list[tuple[int, bytes]]:
    """Sample (frame_index, jpeg_bytes) every ``every_ms`` of an MJPEG AVI.

    Always includes frame 0; raises for non-MJPEG codecs (the ffmpeg
    seam)."""
    avi = parse_avi(data)
    if avi["codec"].upper() not in ("MJPG", "MJPEG", ""):
        raise ValueError(f"unsupported AVI codec {avi['codec']!r} (MJPEG only)")
    frames = avi["frames"]
    if not frames:
        return []
    fps = avi["fps"] or 25.0
    step = max(1, int(round(fps * every_ms / 1000.0)))
    return [(i, frames[i]) for i in range(0, len(frames), step)]


def sniff_video(data: bytes) -> str | None:
    if data and len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return "avi"
    return None


