"""ISO-BMFF (MP4/MOV) header metadata — the METADATA-ONLY video
boundary.

The task brief treats video as an opaque binary column with TYPED
metadata; the only real-format video handling a stdlib sandbox can
validate is the container walk, and that is exactly what a 100 TB
curation pipeline needs first (dims/duration/track census for
filtering; frame decode is ffmpeg's job at deployment, same swap seam
as audio). This module walks the ISO base-media box structure
(ISO/IEC 14496-12): size+type box framing (including 64-bit largesize
and size==0 to-end boxes), ``moov.mvhd`` for timescale/duration (v0
and v1), and each ``moov.trak`` for ``tkhd`` (16.16 fixed-point
width/height -> a video track) and ``mdia.hdlr`` (handler fourcc ->
track kind census). Payload sample data (``mdat``) is never touched.

``encode_mp4`` synthesizes a minimal spec-shaped file (ftyp + moov
with mvhd and N trak boxes + a dummy mdat) for the fixture path.
"""

from __future__ import annotations

import struct

# a real file starts with a box whose type is one of these (ftyp in
# practice; some old MOV/3GP files open with moov/mdat/free/wide)
_TOP_TYPES = {b"ftyp", b"moov", b"mdat", b"free", b"skip", b"wide", b"styp"}

MAX_BOX_DEPTH = 16  # malformed nesting guard (never hangs)


def sniff_mp4(payload: bytes) -> bool:
    """True if the first 8 bytes parse as a plausible top-level box."""
    if len(payload) < 8:
        return False
    size = struct.unpack_from(">I", payload, 0)[0]
    typ = payload[4:8]
    if typ not in _TOP_TYPES:
        return False
    return size == 0 or size == 1 or 8 <= size


def _boxes(payload: bytes, start: int, end: int, depth: int = 0):
    """Yield (type, body_start, body_end) for the boxes in [start, end);
    stops (never raises, never loops) on malformed framing."""
    if depth > MAX_BOX_DEPTH:
        return
    off = start
    while off + 8 <= end:
        size = struct.unpack_from(">I", payload, off)[0]
        typ = payload[off + 4: off + 8]
        body = off + 8
        if size == 1:
            if off + 16 > end:
                return
            size = struct.unpack_from(">Q", payload, off + 8)[0]
            body = off + 16
        elif size == 0:
            size = end - off  # box extends to the end of the file
        if size < body - off or off + size > end:
            return  # malformed / truncated: stop the walk
        yield typ, body, off + size
        off += size


def _find(payload: bytes, start: int, end: int, typ: bytes, depth: int = 0):
    for t, b, e in _boxes(payload, start, end, depth):
        if t == typ:
            return b, e
    return None


def parse_mp4_meta(payload: bytes) -> dict:
    """{container: 'mp4', duration_ms, width, height, n_tracks,
    track_kinds (sorted fourcc list, e.g. ['soun','vide'])}.

    width/height come from the FIRST video track's tkhd (16.16 fixed
    point, rounded to int); duration from mvhd (version 0 or 1).
    No moov/mvhd -> ValueError (a bare mdat stream needs a real
    demuxer: NotImplementedError)."""
    if not sniff_mp4(payload):
        raise ValueError("not an ISO-BMFF container")
    moov = _find(payload, 0, len(payload), b"moov")
    if moov is None:
        # streaming-shaped file (mdat first, moov at the unreachable
        # end of a truncated fetch) — real demuxer territory
        raise NotImplementedError(
            "no moov box (truncated/streaming MP4) — needs a real demuxer"
        )
    ms, me = moov
    mvhd = _find(payload, ms, me, b"mvhd", 1)
    if mvhd is None:
        raise ValueError("moov without mvhd")
    vs, _ve = mvhd
    # the reads below end with the duration field: version/flags (4),
    # creation/modification times and timescale (4+4+4 in v0, 8+8+4 in
    # v1), duration (4 in v0, 8 in v1) -> 20 / 32 body bytes
    version = payload[vs] if vs < _ve else 0
    if vs + (32 if version == 1 else 20) > _ve:
        raise ValueError("truncated mvhd")
    if version == 1:
        timescale = struct.unpack_from(">I", payload, vs + 20)[0]
        duration = struct.unpack_from(">Q", payload, vs + 24)[0]
    else:
        timescale = struct.unpack_from(">I", payload, vs + 12)[0]
        duration = struct.unpack_from(">I", payload, vs + 16)[0]
    if timescale == 0:
        raise ValueError("mvhd timescale 0")
    width = height = None
    kinds = []
    n_tracks = 0
    for t, b, e in _boxes(payload, ms, me, 1):
        if t != b"trak":
            continue
        n_tracks += 1
        tkhd = _find(payload, b, e, b"tkhd", 2)
        if tkhd is not None:
            ts, _te = tkhd
            tver = payload[ts]
            # width sits after version/flags + ids/times + layer/volume
            # + the 36-byte matrix: offset 76 (v0) / 88 (v1) from the
            # box body start (ISO 14496-12 §8.3.2)
            dims_off = ts + (88 if tver == 1 else 76)
            if dims_off + 8 <= _te:
                w16 = struct.unpack_from(">I", payload, dims_off)[0]
                h16 = struct.unpack_from(">I", payload, dims_off + 4)[0]
                if width is None and w16 and h16:
                    width, height = w16 >> 16, h16 >> 16
        mdia = _find(payload, b, e, b"mdia", 2)
        if mdia is not None:
            hdlr = _find(payload, mdia[0], mdia[1], b"hdlr", 3)
            if hdlr is not None:
                kinds.append(
                    payload[hdlr[0] + 8: hdlr[0] + 12].decode(
                        "latin-1", "replace"
                    )
                )
    return {
        "container": "mp4",
        "duration_ms": duration * 1000 // timescale,
        "width": width,
        "height": height,
        "n_tracks": n_tracks,
        "track_kinds": sorted(kinds),
    }


def _box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + typ + body


def encode_mp4(
    *,
    width: int = 640,
    height: int = 360,
    duration_ms: int = 5000,
    timescale: int = 1000,
    audio_track: bool = True,
    mvhd_v1: bool = False,
    seed: int = 1,
) -> bytes:
    """Minimal spec-shaped MP4: ftyp + moov(mvhd + trak(tkhd,
    mdia(hdlr)) [+ audio trak]) + dummy mdat."""
    dur = duration_ms * timescale // 1000
    if mvhd_v1:
        mvhd = _box(
            b"mvhd",
            b"\x01\x00\x00\x00" + struct.pack(">QQIQ", 0, 0, timescale, dur)
            + bytes(80),
        )
    else:
        mvhd = _box(
            b"mvhd",
            b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, timescale, dur)
            + bytes(80),
        )

    def trak(kind: bytes, w: int, h: int) -> bytes:
        tkhd = _box(
            b"tkhd",
            b"\x00\x00\x00\x07" + bytes(72)
            + struct.pack(">II", w << 16, h << 16),
        )
        hdlr = _box(b"hdlr", bytes(4) + b"\x00" * 4 + kind + bytes(13))
        mdia = _box(b"mdia", hdlr)
        return _box(b"trak", tkhd + mdia)

    traks = trak(b"vide", width, height)
    if audio_track:
        traks += trak(b"soun", 0, 0)
    moov = _box(b"moov", mvhd + traks)
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat = _box(b"mdat", bytes((seed + i) % 256 for i in range(64)))
    return ftyp + moov + mdat
