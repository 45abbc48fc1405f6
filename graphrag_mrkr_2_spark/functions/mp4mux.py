"""Minimal MP4 (ISO BMFF) video mux/demux for sample-level decode.

``mediaprobe.probe_mp4`` reads header metadata only; this module adds the
sample-table layer so ``sample_video_frames`` can pull REAL coded video
samples out of MP4 files and hand them to the in-container decoders
(hvc1/hev1 → libde265 via ``hevccodec``, av01 → libdav1d via
``av1codec``). The muxer is the fixture/oracle path (like
``av1codec.mux_webm_av1``): it writes a single-track video file whose
boxes the demuxer, ``probe_mp4``, and any standards-conforming player all
read back.

Demux walks moov → trak(vide) → stbl and expands the four interlocking
sample tables (ISO 14496-12 §8.5–8.7): stts (decode timestamps), stsc
(sample→chunk runs), stsz (sizes), stco/co64 (chunk file offsets), with
stss (sync samples) optional — absent means every sample is a keyframe.
All offsets/counts are bounds-checked so a malformed crawl file raises
ValueError (callers quarantine per payload) instead of mis-slicing.

The reference repo has no video ingestion (images only,
``ingestion/loaders/image_loader.py``); this is part of the LLM-pipeline
brief's multimodal leg.
"""

from __future__ import annotations

import struct

_VIDEO_CONFIG_BOXES = {
    b"hvc1": b"hvcC",
    b"hev1": b"hvcC",
    b"av01": b"av1C",
    b"avc1": b"avcC",
    b"vp09": b"vpcC",
}

# Audio sample-entry fourcc → codec config child box (ISO 14496-14 esds
# for MPEG-4 audio, Opus-in-ISOBMFF dOps, FLAC-in-ISOBMFF dfLa, ETSI
# dac3/dec3). '.mp3'/'mp4a' raw-MP3 entries carry no config box.
_AUDIO_CONFIG_BOXES = {
    b"mp4a": b"esds",
    b"Opus": b"dOps",
    b"fLaC": b"dfLa",
    b"ac-3": b"dac3",
    b"ec-3": b"dec3",
}

# size(4) + type(4) + VisualSampleEntry fixed fields (ISO 14496-12 §12.1.3):
# 6 reserved + 2 data_ref_index + 16 pre_defined/reserved + 2 width +
# 2 height + 4 hres + 4 vres + 4 reserved + 2 frame_count +
# 32 compressorname + 2 depth + 2 pre_defined
_VISUAL_ENTRY_HEADER = 8 + 78


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full_box(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">I", (version << 24) | flags) + payload)


def _sample_entry(fourcc: bytes, width: int, height: int,
                  config_record: bytes) -> bytes:
    """VisualSampleEntry (ISO 14496-12 §12.1.3) + the codec config box —
    shared by the classic and fragmented muxers."""
    config_box = _box(_VIDEO_CONFIG_BOXES[fourcc], bytes(config_record))
    return _box(fourcc, b"".join([
        b"\x00" * 6, struct.pack(">H", 1),         # reserved + data_ref_index
        b"\x00" * 16,
        struct.pack(">HH", width, height),
        struct.pack(">II", 0x00480000, 0x00480000),  # 72 dpi
        b"\x00" * 4,
        struct.pack(">H", 1),                      # frame_count
        b"\x00" * 32,                              # compressorname
        struct.pack(">Hh", 24, -1),                # depth, pre_defined
        config_box,
    ]))


def _build_moov(width: int, height: int, stbl: bytes, duration: int,
                handler: bytes = b"vide") -> bytes:
    """moov scaffolding (mvhd/trak/tkhd/mdia/mdhd/hdlr/minf/dinf) shared
    by all muxers; only the stbl contents, duration and handler differ
    between the video/audio/timed-text layouts. Video tracks carry vmhd,
    others the null media header."""
    dinf = _box(b"dinf", _full_box(b"dref", 0, 0, struct.pack(">I", 1) +
                                   _full_box(b"url ", 0, 1, b"")))
    if handler == b"vide":
        mhd = _full_box(b"vmhd", 0, 1, b"\x00" * 8)
    elif handler == b"soun":
        mhd = _full_box(b"smhd", 0, 0, b"\x00" * 4)  # balance + reserved
    else:
        mhd = _full_box(b"nmhd", 0, 0, b"")
    minf = _box(b"minf", mhd + dinf + stbl)
    mdhd = _full_box(b"mdhd", 0, 0,
                     struct.pack(">IIII", 0, 0, 1000, duration) +
                     struct.pack(">HH", 0x55C4, 0))  # language 'und'
    hdlr = _full_box(b"hdlr", 0, 0,
                     b"\x00" * 4 + handler + b"\x00" * 12 +
                     b"MediaHandler\x00")
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full_box(b"tkhd", 0, 3,
                     struct.pack(">IIIII", 0, 0, 1, 0, duration) +
                     b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0) +
                     struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0,
                                 0, 0, 0x40000000) +
                     struct.pack(">II", width << 16, height << 16))
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full_box(b"mvhd", 0, 0,
                     struct.pack(">IIII", 0, 0, 1000, duration) +
                     struct.pack(">I", 0x00010000) +      # rate 1.0
                     struct.pack(">H", 0x0100) +          # volume
                     b"\x00" * 10 +
                     struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0,
                                 0, 0, 0x40000000) +
                     b"\x00" * 24 +
                     struct.pack(">I", 2))                # next_track_ID
    return _box(b"moov", mvhd + trak)


# Fixture muxer settings no product caller varies; tests patch them.
MP4_FRAME_MS = 40
MP4_SAMPLES_PER_CHUNK = 2
MP4_AUDIO_CONFIG_RECORD = None
MP4_AUDIO_CHUNK_PATTERN = (3, 1, 2)


def mux_mp4_video(samples, width: int, height: int, codec: str,
                  config_record: bytes) -> bytes:
    """Write coded video samples into a minimal-but-valid MP4, one sample
    every ``MP4_FRAME_MS``.

    ``samples``: list of coded sample byte strings (length-prefixed NALs
    for hvc1, low-overhead OBUs for av01). ``codec``: sample-entry fourcc
    ('hvc1'/'av01'). ``config_record``: the codec config box payload
    (hvcC/av1C record bytes). Chunking at ``MP4_SAMPLES_PER_CHUNK``
    exercises real stsc/stco interleaving rather than the degenerate
    one-chunk case. Timescale is 1000 (1 ms units) in both mvhd and mdhd."""
    samples = [bytes(s) for s in samples]
    if not samples:
        raise ValueError("mux_mp4_video: no samples")
    fourcc = codec.encode("ascii")
    if fourcc not in _VIDEO_CONFIG_BOXES:
        raise ValueError(f"unsupported MP4 video codec {codec!r}")
    n = len(samples)
    duration = n * MP4_FRAME_MS

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) +
                b"isom" + b"iso2" + b"mp41")
    mdat_payload = b"".join(samples)
    # chunk layout: fixed-size runs of MP4_SAMPLES_PER_CHUNK (last ragged)
    spc = max(1, int(MP4_SAMPLES_PER_CHUNK))
    chunk_sizes = []
    for i in range(0, n, spc):
        chunk_sizes.append(sum(len(s) for s in samples[i:i + spc]))
    mdat_start = len(ftyp) + 8  # absolute offset of mdat payload
    offsets, acc = [], mdat_start
    for csz in chunk_sizes:
        offsets.append(acc)
        acc += csz

    entry = _sample_entry(fourcc, width, height, config_record)
    stsd = _full_box(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full_box(b"stts", 0, 0,
                     struct.pack(">III", 1, n, MP4_FRAME_MS))
    # all-intra fixtures: stss omitted == every sample is sync
    last_run = n - (len(chunk_sizes) - 1) * spc
    if len(chunk_sizes) == 1:
        # a single (possibly ragged) chunk must declare its REAL sample
        # count — claiming spc when stsz says n < spc makes conforming
        # readers walk past the mdat payload (ISO 14496-12 §8.7.4)
        stsc_entries = [(1, n, 1)]
    else:
        stsc_entries = [(1, spc, 1)]
        if last_run != spc:
            stsc_entries.append((len(chunk_sizes), last_run, 1))
    stsc = _full_box(b"stsc", 0, 0, struct.pack(">I", len(stsc_entries)) +
                     b"".join(struct.pack(">III", *e) for e in stsc_entries))
    stsz = _full_box(b"stsz", 0, 0, struct.pack(">II", 0, n) +
                     b"".join(struct.pack(">I", len(s)) for s in samples))
    stco = _full_box(b"stco", 0, 0, struct.pack(">I", len(offsets)) +
                     b"".join(struct.pack(">I", o) for o in offsets))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    moov = _build_moov(width, height, stbl, duration)
    return ftyp + _box(b"mdat", mdat_payload) + moov


def _read_full_box_header(data: bytes, ps: int):
    if ps + 4 > len(data):
        raise ValueError("truncated FullBox header")
    vf = struct.unpack_from(">I", data, ps)[0]
    return vf >> 24, vf & 0xFFFFFF, ps + 4


def _u32(data: bytes, pos: int, end: int, what: str) -> int:
    """Bounds-checked big-endian u32 read: a fixed field that would read
    past its box (adjacent-box bytes or EOF) is a malformed file →
    ValueError, never garbage-as-real or struct.error."""
    if pos + 4 > end:
        raise ValueError(f"MP4: {what} truncated")
    return struct.unpack_from(">I", data, pos)[0]


def mp4_video_track_info(data: bytes) -> dict:
    """Sample-level info for the FIRST video track of an MP4:
    ``{codec, config, width, height, timescale, samples}`` where
    ``samples`` is ``[(ts_ms, keyframe, payload_bytes), ...]`` in decode
    order and ``config`` is the codec config record payload (hvcC/av1C/…)
    or None. Handles both layouts real crawls ship: classic stco-indexed
    files AND self-initializing fragmented MP4 (DASH/CMAF: moov with
    empty sample tables + mvex/trex defaults, samples in moof/traf/trun
    fragments). Raises ValueError on files without a readable video
    track — callers quarantine."""
    for info in _iter_tracks(data, (b"vide",), visual=True):
        return info
    raise ValueError("MP4: no video track")


def _iter_tracks(data: bytes, handlers: tuple, visual: bool):
    """Shared track discovery for the video and timed-text readers: sniff
    + moov walk + hdlr filter, yielding each matching track's parsed
    sample-table info in file order."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import (
        _find_box,
        _walk_boxes,
        sniff_mp4,
    )

    if not sniff_mp4(data):
        raise ValueError("not an MP4 (no ftyp box)")
    moov = _find_box(data, 0, len(data), (b"moov",))
    if moov is None:
        raise ValueError("MP4: no moov box (streaming layout without init)")
    for btype, ts, te in _walk_boxes(data, moov[0], moov[1]):
        if btype != b"trak":
            continue
        hdlr = _find_box(data, ts, te, (b"mdia", b"hdlr"))
        if hdlr is None or data[hdlr[0] + 8:hdlr[0] + 12] not in handlers:
            continue
        yield _parse_trak(data, ts, te, moov, visual=visual,
                          audio=(handlers == (b"soun",)))


def _tkhd_track_id(data: bytes, ts: int, te: int):
    from graphrag_mrkr_2_spark.functions.mediaprobe import _find_box

    tkhd = _find_box(data, ts, te, (b"tkhd",))
    if tkhd is None:
        return None
    version, _, pos = _read_full_box_header(data, tkhd[0])
    return _u32(data, pos + (16 if version == 1 else 8), tkhd[1], "tkhd")


def _trex_defaults(data: bytes, moov, track_id: int):
    """mvex/trex per-track defaults (ISO 14496-12 §8.8.3):
    (default_sample_duration, default_sample_size, default_sample_flags);
    zeros when absent."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import _find_box, _walk_boxes

    mvex = _find_box(data, moov[0], moov[1], (b"mvex",))
    if mvex is not None:
        for bt, bs, be in _walk_boxes(data, mvex[0], mvex[1]):
            if bt != b"trex":
                continue
            _, _, pos = _read_full_box_header(data, bs)
            if _u32(data, pos, be, "trex") == track_id:
                return (_u32(data, pos + 8, be, "trex duration"),
                        _u32(data, pos + 12, be, "trex size"),
                        _u32(data, pos + 16, be, "trex flags"))
    return 0, 0, 0


def _parse_trak(data: bytes, ts: int, te: int, moov,
                visual: bool = True, audio: bool = False) -> dict:
    from graphrag_mrkr_2_spark.functions.mediaprobe import _find_box, _walk_boxes

    mdhd = _find_box(data, ts, te, (b"mdia", b"mdhd"))
    timescale = 1000
    if mdhd is not None:
        version, _, pos = _read_full_box_header(data, mdhd[0])
        timescale = _u32(data, pos + (16 if version == 1 else 8),
                         mdhd[1], "mdhd") or 1000
    stbl = _find_box(data, ts, te, (b"mdia", b"minf", b"stbl"))
    if stbl is None:
        raise ValueError("MP4: video trak without stbl")
    ss, se = stbl
    boxes = {bt: (bs, be) for bt, bs, be in _walk_boxes(data, ss, se)}

    codec, config, width, height = None, None, None, None
    channels = sample_rate = None
    if b"stsd" in boxes:
        ps, pe = boxes[b"stsd"]
        _, _, pos = _read_full_box_header(data, ps)
        n_entries = _u32(data, pos, pe, "stsd entry count")
        pos += 4
        if n_entries >= 1 and pos + 8 <= pe:
            entry_size = struct.unpack_from(">I", data, pos)[0]
            codec = data[pos + 4:pos + 8].decode("ascii", "replace")
            entry_end = min(pe, pos + max(entry_size, 8))
            if audio:
                # AudioSampleEntry (ISO 14496-12 §12.2.3): 16-byte
                # SampleEntry header, 8 reserved, channelcount u16,
                # samplesize u16, pre_defined u16, reserved u16,
                # samplerate u32 as 16.16 fixed. QuickTime v1/v2 entries
                # (nonzero version word at the first reserved slot) carry
                # 16/36 extra bytes before child boxes — real crawls ship
                # both, so honor the version when locating the config box.
                if pos + 36 > pe:
                    raise ValueError("MP4: stsd audio entry truncated")
                qt_version = struct.unpack_from(">H", data, pos + 16)[0]
                channels, _ss = struct.unpack_from(">HH", data, pos + 24)
                sample_rate = struct.unpack_from(">I", data, pos + 32)[0] >> 16
                body = pos + 36 + {1: 16, 2: 36}.get(qt_version, 0)
                cfg_type = _AUDIO_CONFIG_BOXES.get(
                    codec.encode("ascii", "replace"))
                if cfg_type and body < entry_end:
                    for cbt, cbs, cbe in _walk_boxes(data, body, entry_end):
                        if cbt == cfg_type:
                            config = data[cbs:cbe]
                            break
            else:
                cfg_type = _VIDEO_CONFIG_BOXES.get(
                    codec.encode("ascii", "replace"))
                if cfg_type or (visual and entry_size >= _VISUAL_ENTRY_HEADER):
                    # visual entries carry dims at a fixed offset;
                    # non-visual entries (tx3g timed text) have none — a
                    # big tx3g entry (font table) must not read style
                    # bytes as dims
                    if pos + 36 > pe:
                        raise ValueError("MP4: stsd sample entry truncated")
                    width, height = struct.unpack_from(">HH", data, pos + 32)
                body = pos + _VISUAL_ENTRY_HEADER
                if cfg_type and body < entry_end:
                    for cbt, cbs, cbe in _walk_boxes(data, body, entry_end):
                        if cbt == cfg_type:
                            config = data[cbs:cbe]
                            break

    def _table(name: bytes):
        if name not in boxes:
            return None
        ps, pe = boxes[name]
        _, _, pos = _read_full_box_header(data, ps)
        return ps, pe, pos

    # stsz: sizes. A present-but-empty stsz is the fragmented-MP4 init
    # signature (DASH/CMAF): samples live in moof/traf/trun fragments
    # after the moov, with mvex/trex carrying the per-track defaults.
    t = _table(b"stsz")
    if t is None:
        raise ValueError("MP4: no stsz box")
    _, sz_end, pos = t
    fixed_size = _u32(data, pos, sz_end, "stsz fixed size")
    n_samples = _u32(data, pos + 4, sz_end, "stsz sample count")
    pos += 8
    if n_samples == 0:
        track_id = _tkhd_track_id(data, ts, te)
        if track_id is None:
            raise ValueError("MP4: fragmented track without tkhd")
        samples, durations = _parse_fragments(
            data, track_id, timescale,
            _trex_defaults(data, moov, track_id))
        if not samples:
            raise ValueError("MP4: empty sample tables and no fragments")
        return {"codec": codec, "config": config, "width": width,
                "height": height, "channels": channels,
                "sample_rate": sample_rate, "timescale": timescale,
                "samples": samples, "durations_ms": durations}
    if n_samples > 4_000_000:
        raise ValueError(f"MP4: implausible sample count {n_samples}")
    if fixed_size:
        sizes = [fixed_size] * n_samples
    else:
        if pos + 4 * n_samples > sz_end:
            raise ValueError("MP4: stsz truncated")
        sizes = list(struct.unpack_from(f">{n_samples}I", data, pos))

    # stts: decode timestamps
    t = _table(b"stts")
    if t is None:
        raise ValueError("MP4: no stts box")
    _, st_end, pos = t
    n_runs = _u32(data, pos, st_end, "stts run count")
    pos += 4
    timestamps, deltas, tcur = [], [], 0
    for _ in range(n_runs):
        if pos + 8 > st_end:
            raise ValueError("MP4: stts truncated")
        count, delta = struct.unpack_from(">II", data, pos)
        pos += 8
        for _ in range(min(count, n_samples - len(timestamps))):
            timestamps.append(tcur)
            deltas.append(delta)
            tcur += delta
    if len(timestamps) < n_samples:
        raise ValueError("MP4: stts covers fewer samples than stsz")

    # stss: sync table (absent == all sync)
    sync = None
    t = _table(b"stss")
    if t is not None:
        _, sy_end, pos = t
        n_sync = _u32(data, pos, sy_end, "stss sync count")
        pos += 4
        if pos + 4 * n_sync > sy_end:
            raise ValueError("MP4: stss truncated")
        sync = set(struct.unpack_from(f">{n_sync}I", data, pos))

    # stsc: sample->chunk runs
    t = _table(b"stsc")
    if t is None:
        raise ValueError("MP4: no stsc box")
    _, sc_end, pos = t
    n_sc = _u32(data, pos, sc_end, "stsc run count")
    pos += 4
    sc_runs = []
    for _ in range(n_sc):
        if pos + 12 > sc_end:
            raise ValueError("MP4: stsc truncated")
        sc_runs.append(struct.unpack_from(">III", data, pos)[:2])
        pos += 12

    # stco/co64: chunk offsets
    offsets = None
    t = _table(b"stco")
    if t is not None:
        _, co_end, pos = t
        n_chunks = _u32(data, pos, co_end, "stco chunk count")
        pos += 4
        if pos + 4 * n_chunks > co_end:
            raise ValueError("MP4: stco truncated")
        offsets = list(struct.unpack_from(f">{n_chunks}I", data, pos))
    else:
        t = _table(b"co64")
        if t is None:
            raise ValueError("MP4: no stco/co64 box")
        _, co_end, pos = t
        n_chunks = _u32(data, pos, co_end, "co64 chunk count")
        pos += 4
        if pos + 8 * n_chunks > co_end:
            raise ValueError("MP4: co64 truncated")
        offsets = list(struct.unpack_from(f">{n_chunks}Q", data, pos))

    # expand stsc runs into per-chunk sample counts
    if not sc_runs and offsets:
        raise ValueError("MP4: empty stsc with non-empty stco")
    per_chunk = []
    for i, (first_chunk, spc) in enumerate(sc_runs):
        last = (sc_runs[i + 1][0] - 1) if i + 1 < len(sc_runs) else len(offsets)
        if first_chunk < 1 or last < first_chunk - 1:
            raise ValueError("MP4: stsc chunk runs out of order")
        per_chunk.extend([spc] * (last - first_chunk + 1))
    if len(per_chunk) < len(offsets):
        per_chunk.extend([sc_runs[-1][1]] * (len(offsets) - len(per_chunk)))

    samples, durations, si = [], [], 0
    for ci, base in enumerate(offsets):
        off = base
        for _ in range(per_chunk[ci] if ci < len(per_chunk) else 0):
            if si >= n_samples:
                break
            sz = sizes[si]
            if off + sz > len(data):
                raise ValueError("MP4: sample extends past end of file")
            key = sync is None or (si + 1) in sync
            samples.append(
                (timestamps[si] * 1000 // timescale, key, data[off:off + sz]))
            durations.append(deltas[si] * 1000 // timescale)
            off += sz
            si += 1
    if si < n_samples:
        raise ValueError("MP4: chunk tables cover fewer samples than stsz")
    return {"codec": codec, "config": config, "width": width,
            "height": height, "channels": channels,
            "sample_rate": sample_rate, "timescale": timescale,
            "samples": samples, "durations_ms": durations}


def _parse_fragments(data: bytes, track_id: int, timescale: int,
                     trex) -> list:
    """Walk moof/traf/trun fragments (ISO 14496-12 §8.8) for one track →
    ``([(ts_ms, keyframe, payload), ...], [duration_ms, ...])``. Honors
    tfhd base-data-offset /
    default-base-is-moof, tfdt decode times, per-sample trun fields with
    tfhd/trex default fallbacks, and the sample_is_non_sync_sample flag
    bit for keyframes. Bounds-checked throughout (ValueError on malformed
    fragments — the quarantine contract)."""
    from graphrag_mrkr_2_spark.functions.mediaprobe import _walk_boxes

    trex_dur, trex_size, trex_flags = trex
    samples = []
    durations = []
    implicit_time = 0  # running decode time when tfdt is absent
    for btype, ms, me in _walk_boxes(data, 0, len(data)):
        if btype != b"moof":
            continue
        # default-base-is-moof math needs the BOX start, not the payload
        # start — and _walk_boxes yields payload offsets for both 8-byte
        # and 16-byte (size==1 largesize) headers, so detect which
        if ms >= 8 and data[ms - 4:ms] == b"moof":
            moof_start = ms - 8
        elif ms >= 16 and data[ms - 12:ms - 8] == b"moof":
            moof_start = ms - 16  # largesize header
        else:
            raise ValueError("MP4: cannot locate moof box header")
        for tbt, tbs, tbe in _walk_boxes(data, ms, me):
            if tbt != b"traf":
                continue
            tfhd = trun_list = None
            tfdt_time = None
            for fbt, fbs, fbe in _walk_boxes(data, tbs, tbe):
                if fbt == b"tfhd":
                    tfhd = (fbs, fbe)
                elif fbt == b"tfdt":
                    version, _, pos = _read_full_box_header(data, fbs)
                    if version == 1:
                        if pos + 8 > fbe:
                            raise ValueError("MP4: tfdt truncated")
                        tfdt_time = struct.unpack_from(">Q", data, pos)[0]
                    else:
                        tfdt_time = _u32(data, pos, fbe, "tfdt")
                elif fbt == b"trun":
                    trun_list = (trun_list or []) + [(fbs, fbe)]
            if tfhd is None or not trun_list:
                continue
            _, tf_flags, pos = _read_full_box_header(data, tfhd[0])
            if _u32(data, pos, tfhd[1], "tfhd track id") != track_id:
                continue
            pos += 4
            base = moof_start if tf_flags & 0x020000 else None
            if tf_flags & 0x000001:  # base-data-offset present
                if pos + 8 > tfhd[1]:
                    raise ValueError("MP4: tfhd base offset truncated")
                base = struct.unpack_from(">Q", data, pos)[0]
                pos += 8
            if tf_flags & 0x000002:  # sample-description-index
                pos += 4
            def_dur = trex_dur
            if tf_flags & 0x000008:
                def_dur = _u32(data, pos, tfhd[1], "tfhd duration")
                pos += 4
            def_size = trex_size
            if tf_flags & 0x000010:
                def_size = _u32(data, pos, tfhd[1], "tfhd size")
                pos += 4
            def_flags = trex_flags
            if tf_flags & 0x000020:
                def_flags = _u32(data, pos, tfhd[1], "tfhd flags")
                pos += 4
            if base is None:
                base = moof_start  # spec default for the first trun chain
            tcur = tfdt_time if tfdt_time is not None else implicit_time
            prev_end = None  # end of the previous trun's data (§8.8.8)
            for rs, re_ in trun_list:
                _, tr_flags, pos = _read_full_box_header(data, rs)
                count = _u32(data, pos, re_, "trun sample count")
                pos += 4
                if count > 4_000_000:
                    raise ValueError(
                        f"MP4: implausible trun sample count {count}")
                if tr_flags & 0x000001:  # data-offset present (signed)
                    if pos + 4 > re_:
                        raise ValueError("MP4: trun data offset truncated")
                    off = base + struct.unpack_from(">i", data, pos)[0]
                    pos += 4
                elif prev_end is not None:
                    # §8.8.8: a trun without a data-offset continues
                    # immediately after the previous trun's data —
                    # resetting to base would silently re-read it
                    off = prev_end
                else:
                    off = base
                if off < 0:
                    raise ValueError("MP4: negative fragment data offset")
                first_flags = None
                if tr_flags & 0x000004:
                    first_flags = _u32(data, pos, re_, "trun first flags")
                    pos += 4
                for i in range(count):
                    dur, size, flags = def_dur, def_size, def_flags
                    if tr_flags & 0x000100:
                        dur = _u32(data, pos, re_, "trun duration")
                        pos += 4
                    if tr_flags & 0x000200:
                        size = _u32(data, pos, re_, "trun size")
                        pos += 4
                    if tr_flags & 0x000400:
                        flags = _u32(data, pos, re_, "trun flags")
                        pos += 4
                    if tr_flags & 0x000800:  # cts offset (presentation)
                        if pos + 4 > re_:
                            raise ValueError("MP4: trun cts offset truncated")
                        pos += 4
                    if i == 0 and first_flags is not None:
                        flags = first_flags
                    if size == 0:
                        raise ValueError("MP4: fragment sample with no size")
                    if off + size > len(data):
                        raise ValueError(
                            "MP4: fragment sample extends past end of file")
                    key = not (flags & 0x00010000)  # sample_is_non_sync
                    samples.append(
                        (tcur * 1000 // timescale, key,
                         data[off:off + size]))
                    durations.append(dur * 1000 // timescale)
                    off += size
                    tcur += dur
                prev_end = off
            implicit_time = tcur
    return samples, durations


def mp4_audio_track_info(data: bytes) -> dict:
    """Sample-level info for the FIRST audio track (handler ``soun``) of
    an MP4: ``{codec, config, channels, sample_rate, timescale, samples,
    durations_ms}`` — ``samples`` as ``[(ts_ms, keyframe, payload), ...]``
    in decode order (keyframe is vestigial for audio; every coded audio
    frame is independent at the container level), ``config`` the codec
    config record payload (esds for mp4a, dOps for Opus, dfLa for fLaC)
    or None for raw-frame entries ('.mp3').  Same stbl machinery as the
    video reader — ragged stsc chunking is the NORM on the audio side
    (interleaved A/V files put a variable run of audio frames between
    video chunks), which is exactly what the shared walk exercises.
    Handles classic stco-indexed and fragmented (moof/traf/trun) layouts.
    Raises ValueError without a readable audio track — callers
    quarantine."""
    for info in _iter_tracks(data, (b"soun",), visual=False):
        return info
    raise ValueError("MP4: no audio track")


def mux_mp4_audio(samples, codec: str, sample_rate: int, channels: int) -> bytes:
    """Write coded audio samples into a minimal-but-valid MP4.

    ``samples``: list of coded frame byte strings (AAC raw frames for
    mp4a, Opus packets for Opus, MP3 frames for '.mp3').  ``codec``: the
    sample-entry fourcc ('mp4a'/'Opus'/'fLaC'/'.mp3').
    ``MP4_AUDIO_CONFIG_RECORD``: the codec config box payload
    (esds/dOps/dfLa record bytes) or None.
    ``MP4_AUDIO_CHUNK_PATTERN`` cycles per-chunk sample counts — audio
    chunking is ragged in real interleaved files, so the fixture writes a
    multi-run stsc by default instead of the degenerate fixed-size layout.
    Timescale is 1000 (1 ms units), matching the video muxer; every sample
    lasts 20 ms."""
    samples = [bytes(s) for s in samples]
    if not samples:
        raise ValueError("mux_mp4_audio: no samples")
    if not MP4_AUDIO_CHUNK_PATTERN or any(c < 1 for c in MP4_AUDIO_CHUNK_PATTERN):
        raise ValueError("mux_mp4_audio: chunk pattern needs counts >= 1")
    fourcc = codec.encode("ascii")
    if len(fourcc) != 4:
        raise ValueError(f"bad MP4 audio fourcc {codec!r}")
    n = len(samples)
    duration = n * 20

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) +
                b"isom" + b"iso2" + b"mp41")
    mdat_payload = b"".join(samples)
    # ragged chunk layout: cycle MP4_AUDIO_CHUNK_PATTERN until samples run out
    per_chunk, i, pi = [], 0, 0
    while i < n:
        c = min(MP4_AUDIO_CHUNK_PATTERN[pi % len(MP4_AUDIO_CHUNK_PATTERN)], n - i)
        per_chunk.append(c)
        i += c
        pi += 1
    mdat_start = len(ftyp) + 8
    offsets, acc, si = [], mdat_start, 0
    for c in per_chunk:
        offsets.append(acc)
        acc += sum(len(s) for s in samples[si:si + c])
        si += c

    if sample_rate > 0xFFFF:
        # the v0 entry's 16.16 rate field caps at 65535 Hz; >64k rates
        # need a v1 entry + srat box this fixture muxer doesn't write
        raise ValueError("mux_mp4_audio: rate > 65535 Hz")
    cfg_type = _AUDIO_CONFIG_BOXES.get(fourcc)
    cfg_box = (_box(cfg_type, bytes(MP4_AUDIO_CONFIG_RECORD))
               if cfg_type and MP4_AUDIO_CONFIG_RECORD is not None else b"")
    entry = _box(fourcc, b"".join([
        b"\x00" * 6, struct.pack(">H", 1),     # reserved + data_ref_index
        b"\x00" * 8,                           # reserved (version 0)
        struct.pack(">HHHH", channels, 16, 0, 0),
        struct.pack(">I", sample_rate << 16),  # 16.16 fixed
        cfg_box,
    ]))
    stsd = _full_box(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full_box(b"stts", 0, 0,
                     struct.pack(">III", 1, n, 20))
    # stsc runs: collapse equal consecutive per-chunk counts
    sc_runs = []
    for ci, c in enumerate(per_chunk, start=1):
        if not sc_runs or sc_runs[-1][1] != c:
            sc_runs.append((ci, c))
    stsc = _full_box(b"stsc", 0, 0, struct.pack(">I", len(sc_runs)) +
                     b"".join(struct.pack(">III", fc, c, 1)
                              for fc, c in sc_runs))
    stsz = _full_box(b"stsz", 0, 0, struct.pack(">II", 0, n) +
                     b"".join(struct.pack(">I", len(s)) for s in samples))
    stco = _full_box(b"stco", 0, 0, struct.pack(">I", len(offsets)) +
                     b"".join(struct.pack(">I", o) for o in offsets))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    moov = _build_moov(0, 0, stbl, duration, handler=b"soun")
    return ftyp + _box(b"mdat", mdat_payload) + moov


def mp4_text_track_info(data: bytes) -> dict:
    """Sample-level info for the FIRST timed-text track (handler text/
    sbtl/subt, sample entry tx3g) — same dict shape as
    ``mp4_video_track_info`` plus per-sample ``durations_ms``. Raises
    ValueError when no text track exists."""
    for info in _iter_tracks(data, (b"text", b"sbtl", b"subt"),
                             visual=False):
        if info["codec"] != "tx3g":
            # e.g. a QuickTime chapter track ('text' sample entry) ahead
            # of the real tx3g subtitles — skip it, keep scanning
            continue
        return info
    raise ValueError("MP4: no tx3g timed-text track")
