"""Coded-audio framing: pull per-frame audio payloads out of containers.

The decode seam for compressed audio (MP3/AAC/Opus/Vorbis — no decoder
library of any kind exists in this container, SCALE.md) stays injectable,
but the DEMUX layer below it is real: this module surfaces the coded
frames a user-injected decoder would consume, from

- Matroska/WebM audio tracks (``mkv_audio_track_info`` — SimpleBlock /
  BlockGroup framing with full Xiph/fixed/EBML de-lacing via the shared
  ``mediaprobe.mkv_track_blocks`` walker; audio tracks lace routinely),
- MP4 audio tracks (``mp4mux.mp4_audio_track_info`` — stts/stsc/stsz/stco
  walk where ragged chunking is the norm, plus fragmented layouts),
- bare MP3 streams (``mp3_frames`` — header-walk frame splitting with
  the same second-frame-consistency check ``mediaprobe.probe_mp3`` uses),
- Ogg streams (``ogg_packets`` — page-lacing reassembly incl. packets
  continued across pages, for Opus/Vorbis/FLAC-in-Ogg).

``mux_mkv_audio`` is the fixture/oracle path: it writes single-track
audio Matroska files in any of the four lacing modes so the demuxer is
tested against every framing real crawls ship.

The reference repo has no audio ingestion at all (images are its only
media leg, ``ingestion/loaders/image_loader.py``); this is part of the
LLM-pipeline brief's multimodal leg.
"""

from __future__ import annotations

import struct

from graphrag_mrkr_2_spark.functions.av1codec import (
    _el,
    _MKV_CLUSTER,
    _MKV_CLUSTER_TS,
    _MKV_SIMPLEBLOCK,
    _uint_payload,
    ebml_header,
)

# Frames one payload may fan out to: a malformed sample table or page
# stream must not explode a partition.
MAX_FRAMES = 2000


def _xiph_sizes(sizes) -> bytes:
    out = bytearray()
    for sz in sizes:
        while sz >= 255:
            out.append(255)
            sz -= 255
        out.append(sz)
    return bytes(out)


def _ebml_lace_vint(v: int) -> bytes:
    # minimal-width unsigned vint WITH marker (same coding as element
    # sizes); used for the first EBML lace size
    for width in range(1, 9):
        if v < (1 << (7 * width)) - 1:
            return (v | (1 << (7 * width))).to_bytes(width, "big")
    raise ValueError("EBML lace size too large")


def _ebml_lace_svint(delta: int) -> bytes:
    # signed vint: value + bias, bias = 2^(7*len-1) - 1
    for width in range(1, 9):
        bias = (1 << (7 * width - 1)) - 1
        if -bias <= delta <= bias:
            return ((delta + bias) | (1 << (7 * width))).to_bytes(width, "big")
    raise ValueError("EBML lace delta too large")


# Fixture muxer settings no product caller varies; tests patch them.
MKV_AUDIO_CODEC_PRIVATE = b""
MKV_AUDIO_FRAMES_PER_BLOCK = 4
OGG_SERIAL = 1


def mux_mkv_audio(frames, codec_id: bytes = b"A_OPUS",
                  lacing: str = None) -> bytes:
    """Single-audio-track Matroska/WebM muxer (fixture/oracle path):
    48 kHz stereo, 20 ms frames.

    ``lacing``: None (one SimpleBlock per frame — what remuxed Opus
    ships), or 'xiph' / 'ebml' / 'fixed' packing
    ``MKV_AUDIO_FRAMES_PER_BLOCK`` frames per SimpleBlock with that lace
    coding — Vorbis/MP3 muxers lace heavily, so the demuxer must be driven through all three.
    'fixed' requires equal-size frames (that's its point).  The track
    writes DefaultDuration so de-laced frames get real timestamps, and
    SamplingFrequency/Channels so the track dict carries audio meta."""
    frames = [bytes(f) for f in frames]
    if not frames:
        raise ValueError("mux_mkv_audio: no frames")
    if lacing not in (None, "xiph", "ebml", "fixed"):
        raise ValueError(f"unknown lacing {lacing!r}")
    ebml = ebml_header(b"matroska" if codec_id not in
                       (b"A_OPUS", b"A_VORBIS") else b"webm")
    info = _el(0x1549A966, b"".join([
        _el(0x2AD7B1, _uint_payload(1_000_000)),  # TimestampScale: 1 ms
        _el(0x4489, struct.pack(
            ">d", float(len(frames) * 20))),
    ]))
    track_fields = [
        _el(0xD7, _uint_payload(1)),              # TrackNumber
        _el(0x73C5, _uint_payload(1)),            # TrackUID
        _el(0x83, _uint_payload(2)),              # TrackType: audio
        _el(0x86, bytes(codec_id)),               # CodecID
        _el(0x23E383, _uint_payload(20 * 1_000_000)),  # DefaultDuration
    ]
    if MKV_AUDIO_CODEC_PRIVATE:
        track_fields.append(_el(0x63A2, bytes(MKV_AUDIO_CODEC_PRIVATE)))
    track_fields.append(
        _el(0xE1, b"".join([                      # Audio
            _el(0xB5, struct.pack(">d", 48000.0)),
            _el(0x9F, _uint_payload(2)),
        ])))
    tracks = _el(0x1654AE6B, _el(0xAE, b"".join(track_fields)))

    blocks = []
    if lacing is None:
        for idx, frame in enumerate(frames):
            ts = idx * 20
            blocks.append(_el(_MKV_SIMPLEBLOCK,
                              b"\x81" + struct.pack(">hB", ts, 0x80) + frame))
    else:
        fpb = max(1, int(MKV_AUDIO_FRAMES_PER_BLOCK))
        for base in range(0, len(frames), fpb):
            group = frames[base:base + fpb]
            ts = base * 20
            if len(group) == 1:
                blocks.append(_el(
                    _MKV_SIMPLEBLOCK,
                    b"\x81" + struct.pack(">hB", ts, 0x80) + group[0]))
                continue
            if lacing == "xiph":
                flags = 0x80 | 0x02
                lace = _xiph_sizes(len(f) for f in group[:-1])
            elif lacing == "fixed":
                if len({len(f) for f in group}) != 1:
                    raise ValueError("fixed lacing needs equal-size frames")
                flags = 0x80 | 0x04
                lace = b""
            else:  # ebml
                flags = 0x80 | 0x06
                lace = _ebml_lace_vint(len(group[0]))
                for i in range(1, len(group) - 1):
                    lace += _ebml_lace_svint(
                        len(group[i]) - len(group[i - 1]))
            body = (b"\x81" + struct.pack(">hB", ts, flags) +
                    bytes([len(group) - 1]) + lace + b"".join(group))
            blocks.append(_el(_MKV_SIMPLEBLOCK, body))
    cluster = _el(_MKV_CLUSTER,
                  _el(_MKV_CLUSTER_TS, _uint_payload(0)) + b"".join(blocks))
    segment = _el(0x18538067, info + tracks + cluster)
    return ebml + segment


def mkv_audio_track_info(data: bytes) -> dict:
    """``{codec, codec_private, sample_rate, channels, samples}`` for the
    FIRST audio track of a Matroska/WebM file — ``samples`` as
    ``[(ts_ms, payload), ...]`` coded frames in stream order, de-laced
    (Xiph/fixed/EBML), with laced-frame timestamps reconstructed from
    the track DefaultDuration.  ``codec`` is the Matroska CodecID string
    ('A_OPUS', 'A_VORBIS', 'A_MPEG/L3', …).  Raises ValueError when no
    audio track exists — callers quarantine."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import mkv_track_blocks

    track, blocks = mkv_track_blocks(data, want_type=2, on_laced="expand")
    if track is None:
        raise ValueError("MKV: no audio track")
    samples = [(ts, payload) for ts, _k, _d, payload in blocks]
    return {
        "codec": track["codec"].decode("ascii", "replace"),
        "codec_private": track["codec_private"],
        "sample_rate": track.get("sample_rate"),
        "channels": track.get("channels"),
        "samples": samples,
    }


def mp3_frames(data: bytes) -> list:
    """``[(ts_ms, frame_bytes), ...]`` by walking Layer-III frame headers
    from the first validated sync (after any ID3v2 block, with the same
    second-frame-consistency gate ``probe_mp3`` uses to reject random
    0xFFEx pairs).  Each header carries its own bitrate, so VBR streams
    split correctly; timestamps accumulate samples-per-frame over the
    stream sample rate.  The walk stops at the first non-frame byte
    (ID3v1/APE trailers, truncation) and drops a truncated final frame —
    an injected decoder must never see a partial frame."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import (
        _find_mp3_frame,
        _parse_mp3_header,
    )

    found = _find_mp3_frame(data)
    if found is None:
        raise ValueError("no MP3 frame sync found")
    pos, hdr = found
    out, tick = [], 0  # tick counts samples at the stream rate
    while hdr is not None and len(out) < MAX_FRAMES:
        fl = hdr["frame_len"]
        if pos + fl > len(data):
            break
        out.append((tick * 1000 // hdr["sample_rate"], data[pos:pos + fl]))
        tick += hdr["spf"]
        pos += fl
        hdr = _parse_mp3_header(data, pos)
    return out


def ogg_packets(data: bytes) -> list:
    """Logical packets of the FIRST Ogg stream, in order, header packets
    (OpusHead/OpusTags, Vorbis ident/comment/setup) included — the exact
    byte strings RFC 3533 page lacing reassembles: segments concatenate
    until one is < 255, and packets continue across pages (continuation
    flag 0x01).  Pages of other multiplexed serials are skipped.  Raises
    ValueError on malformed page structure — callers quarantine."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import sniff_ogg

    if not sniff_ogg(data):
        raise ValueError("not an Ogg stream")
    pos, serial = 0, None
    packets, cur, cur_open = [], bytearray(), False
    while pos + 27 <= len(data) and len(packets) < MAX_FRAMES:
        if data[pos:pos + 4] != b"OggS" or data[pos + 4] != 0:
            raise ValueError("Ogg: bad page header")
        htype = data[pos + 5]
        pserial = struct.unpack_from("<I", data, pos + 14)[0]
        nseg = data[pos + 26]
        body = pos + 27 + nseg
        if body > len(data):
            raise ValueError("Ogg: truncated segment table")
        segs = data[pos + 27:body]
        page_end = body + sum(segs)
        if page_end > len(data):
            raise ValueError("Ogg: truncated page body")
        if serial is None:
            serial = pserial
        if pserial != serial:
            pos = page_end
            continue
        if cur_open != bool(htype & 0x01):
            # continuation flag disagrees with our state: a lost or
            # spurious continuation — drop the partial packet (spec says
            # discard) rather than gluing unrelated bytes together
            cur, cur_open = bytearray(), False
            if htype & 0x01:
                # skip the continuation segments of the packet whose
                # start we never saw
                p = body
                for i, s in enumerate(segs):
                    p += s
                    if s < 255:
                        segs = segs[i + 1:]
                        body = p
                        break
                else:
                    segs = b""
        p = body
        for s in segs:
            cur += data[p:p + s]
            p += s
            if s < 255:
                packets.append(bytes(cur))
                cur = bytearray()
                if len(packets) >= MAX_FRAMES:
                    break
        cur_open = bool(segs) and segs[-1] == 255
        pos = page_end
    return packets


def mux_ogg(packets, page_segment_cap: int = 255) -> bytes:
    """Write logical packets into an Ogg stream (fixture/oracle path).

    Standard RFC 3533 lacing: packets split into 255-byte segments plus
    a terminator (< 255); a packet whose segments overflow the page's
    segment budget continues onto the next page with the continuation
    flag — set ``page_segment_cap`` low to force cross-page continuation
    in fixtures without megabyte packets.  First page carries BOS (0x02),
    last EOS (0x04).  CRC is zero like the other in-repo Ogg builders
    (none of the in-repo parsers validate CRC32; documented there)."""
    packets = [bytes(p) for p in packets]
    if not packets:
        raise ValueError("mux_ogg: no packets")
    cap = max(1, min(int(page_segment_cap), 255))
    # flatten to (segment_size, is_packet_start) lace entries
    laces = []
    for p in packets:
        sizes, rest = [], len(p)
        while rest >= 255:
            sizes.append(255)
            rest -= 255
        sizes.append(rest)
        for i, s in enumerate(sizes):
            laces.append((s, i == 0))
    pages, page, page_started_mid = [], [], False
    for s, is_start in laces:
        if len(page) >= cap:
            pages.append((page, page_started_mid))
            page_started_mid = not is_start
            page = []
        page.append(s)
    pages.append((page, page_started_mid))
    out, off, seq = [], 0, 0
    flat = b"".join(packets)
    for i, (segs, mid) in enumerate(pages):
        htype = (0x01 if mid else 0) | (0x02 if i == 0 else 0) | (
            0x04 if i == len(pages) - 1 else 0)
        total = sum(segs)
        body = flat[off:off + total]
        off += total
        granule = -1 if (segs and segs[-1] == 255) else off
        out.append(b"OggS\x00" + bytes([htype])
                   + struct.pack("<q", granule) + struct.pack("<I", OGG_SERIAL)
                   + struct.pack("<I", seq) + b"\x00\x00\x00\x00"
                   + bytes([len(segs)]) + bytes(segs) + body)
        seq += 1
    return b"".join(out)
