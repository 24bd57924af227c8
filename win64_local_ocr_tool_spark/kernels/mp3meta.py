"""MP3 + AAC(ADTS) frame-header metadata — the METADATA-ONLY audio
boundary.

Compressed audio (dominant payload: MPEG-1/2 Layer III) was the one
remaining ``no_codec`` class with real crawl share (r4 verdict item 7).
Full decode is out of scope for a stdlib sandbox (hybrid filterbank +
huffman, huge, and unvalidatable without a real decoder); what a
training-data pipeline actually needs from an audio payload is typed
METADATA — version, layer, sample rate, channel count, bitrate and a
duration estimate — and all of that lives in the 4-byte frame headers
(ISO/IEC 11172-3 / 13818-3 framing), which this module parses for
real: ID3v2 tag skipping, frame-sync scan, per-frame header fields,
and a full frame walk (so VBR files get an exact frame count and a
true average bitrate, not the first frame's). The payload bits are
never decoded; ``NotImplementedError`` marks the free-format-bitrate
corner (a real codec's job), ``ValueError`` marks malformed payloads —
the same boundary discipline as the image codecs.

The ``encode_mp3_frames`` fixture synthesizer emits spec-valid frame
headers with deterministic dummy payload bytes — enough for the
metadata path, which is the only path that exists for this container.

The AAC twin (``parse_adts_meta`` / ``encode_adts_frames``) walks
ADTS framing (ISO/IEC 13818-7 §6.2): 12-bit sync, explicit 13-bit
frame length, per-frame raw-data-block count (1024 samples each),
optional CRC. ADTS frames carry layer bits 00 — reserved in MPEG
audio — so the MP3 and ADTS sniffs are disjoint by construction.
"""

from __future__ import annotations

# bitrate tables (kbps), indexed by [version-group][layer][idx 1..14]
_BR_V1 = {
    1: [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    2: [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    3: [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
}
_BR_V2 = {
    1: [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    2: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    3: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
# sample rates by version bits (00=MPEG2.5, 10=MPEG2, 11=MPEG1)
_SR = {
    0: [11025, 12000, 8000],
    2: [22050, 24000, 16000],
    3: [44100, 48000, 32000],
}
_VERSION_NAME = {0: "MPEG2.5", 2: "MPEG2", 3: "MPEG1"}
_SYNC_SCAN_LIMIT = 4096  # junk tolerated before the first frame sync


def _parse_frame_header(b0: int, b1: int, b2: int, b3: int):
    """(version_bits, layer, bitrate_kbps, sample_rate, channels,
    samples_per_frame, frame_len) for one 4-byte header, or None if the
    bytes are not a valid frame header (the sync-scan probe)."""
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    ver = (b1 >> 3) & 3
    layer_bits = (b1 >> 1) & 3
    if ver == 1 or layer_bits == 0:
        return None  # reserved version / reserved layer
    layer = 4 - layer_bits  # 11->I, 10->II, 01->III
    br_idx = (b2 >> 4) & 0xF
    sr_idx = (b2 >> 2) & 3
    if br_idx == 0xF or sr_idx == 3:
        return None
    if (b3 & 3) == 2:
        return None  # reserved emphasis
    if br_idx == 0:
        # free-format bitrate: frame size must be inferred by decoding —
        # a real codec's job (the NotImplementedError boundary; callers
        # translate after locating a first otherwise-valid header)
        return "free"
    table = _BR_V1 if ver == 3 else _BR_V2
    bitrate = table[layer][br_idx]
    sr = _SR[ver][sr_idx]
    pad = (b2 >> 1) & 1
    channels = 1 if ((b3 >> 6) & 3) == 3 else 2
    if layer == 1:
        spf = 384
        frame_len = (12 * bitrate * 1000 // sr + pad) * 4
    else:
        spf = 1152 if (layer == 2 or ver == 3) else 576
        frame_len = spf // 8 * bitrate * 1000 // sr + pad
    return ver, layer, bitrate, sr, channels, spf, frame_len


def parse_mp3_meta(payload: bytes) -> dict:
    """Walk every frame; return typed metadata:

    {version, layer, sample_rate, channels, n_frames, duration_ms,
     bitrate_kbps (exact average over frames — VBR-correct)}.

    ID3v2 tags are skipped (syncsafe size), an ID3v1 trailer ("TAG",
    128 bytes) is tolerated, and up to _SYNC_SCAN_LIMIT bytes of
    leading junk are scanned for the first sync. Malformed (no valid
    frame) -> ValueError; free-format bitrate (only free-format headers
    in the scan window) -> NotImplementedError."""
    off = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = 0
        for i in range(6, 10):
            size = (size << 7) | (payload[i] & 0x7F)
        off = 10 + size
    end = len(payload)
    if end >= 128 and payload[end - 128: end - 125] == b"TAG":
        end -= 128
    # scan for the first valid frame header; a free-format header may be
    # a lookalike inside junk, so it only decides when no other is found
    first = None
    seen_free = False
    scan_end = min(off + _SYNC_SCAN_LIMIT, end - 4)
    while off <= scan_end:
        h = _parse_frame_header(
            payload[off], payload[off + 1], payload[off + 2], payload[off + 3]
        )
        if h not in (None, "free"):
            first = h
            break
        seen_free |= h == "free"
        off += 1
    if first is None and seen_free:
        raise NotImplementedError("free-format MP3 bitrate needs a real codec")
    if first is None:
        raise ValueError("no MP3 frame sync found")
    ver, layer, _, sr, channels, _, _ = first
    n_frames = 0
    samples = 0
    bitrate_sum = 0
    while off + 4 <= end:
        h = _parse_frame_header(
            payload[off], payload[off + 1], payload[off + 2], payload[off + 3]
        )
        if h is None or h == "free":
            break  # trailing junk after the last whole frame
        hv, hl, bitrate, hsr, _ch, spf, frame_len = h
        if (hv, hl, hsr) != (ver, layer, sr):
            break  # a different stream glued on: stop at the boundary
        if frame_len < 4 or off + frame_len > end:
            break  # truncated final frame: count whole frames only
        n_frames += 1
        samples += spf
        bitrate_sum += bitrate
        off += frame_len
    if n_frames == 0:
        raise ValueError("truncated MP3: sync found but no whole frame")
    return {
        "version": _VERSION_NAME[ver],
        "layer": layer,
        "sample_rate": sr,
        "channels": channels,
        "n_frames": n_frames,
        "duration_ms": samples * 1000 // sr,
        "bitrate_kbps": bitrate_sum // n_frames,
    }


def encode_mp3_frames(
    n_frames: int,
    *,
    version: int = 3,
    layer: int = 3,
    br_idx: int = 9,
    sr_idx: int = 0,
    mono: bool = False,
    id3_bytes: int = 0,
    seed: int = 1,
) -> bytes:
    """Spec-valid MP3 frame headers + deterministic dummy payload — the
    metadata-path fixture (the payload bits are never decoded). Padding
    bit alternates so the frame walk exercises both lengths."""
    out = bytearray()
    if id3_bytes:
        out += b"ID3\x04\x00\x00" + bytes(
            (id3_bytes >> s) & 0x7F for s in (21, 14, 7, 0)
        )
        out += bytes((seed + i) % 251 for i in range(id3_bytes))
    layer_bits = 4 - layer
    for i in range(n_frames):
        pad = i % 2
        b1 = 0xE0 | (version << 3) | (layer_bits << 1) | 1
        b2 = (br_idx << 4) | (sr_idx << 2) | (pad << 1)
        b3 = (0xC0 if mono else 0x00)
        h = _parse_frame_header(0xFF, b1, b2, b3)
        assert h not in (None, "free")
        frame_len = h[6]
        out += bytes((0xFF, b1, b2, b3))
        out += bytes(
            (seed * 31 + i * 7 + j) % 256 for j in range(frame_len - 4)
        )
    return bytes(out)


# --------------------------------------------------------------------------
# AAC (ADTS transport) — the other dominant compressed-audio class
# --------------------------------------------------------------------------

_ADTS_SR = [
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
]
_ADTS_PROFILE = {0: "AAC-Main", 1: "AAC-LC", 2: "AAC-SSR", 3: "AAC-LTP"}


def _parse_adts_header(b: bytes, off: int):
    """(profile_bits, sample_rate, channels, n_blocks, frame_len,
    header_len) for the ADTS header at ``off``, or None if the bytes
    are not a valid header."""
    if off + 7 > len(b):
        return None
    if b[off] != 0xFF or (b[off + 1] & 0xF0) != 0xF0:
        return None
    if (b[off + 1] >> 1) & 3 != 0:
        return None  # layer must be 00 in ADTS
    protection_absent = b[off + 1] & 1
    profile = (b[off + 2] >> 6) & 3
    sfi = (b[off + 2] >> 2) & 0xF
    if sfi >= len(_ADTS_SR):
        return None
    channels = ((b[off + 2] & 1) << 2) | ((b[off + 3] >> 6) & 3)
    frame_len = (
        ((b[off + 3] & 3) << 11) | (b[off + 4] << 3) | (b[off + 5] >> 5)
    )
    n_blocks = (b[off + 6] & 3) + 1
    header_len = 7 if protection_absent else 9
    if frame_len < header_len:
        return None
    return profile, _ADTS_SR[sfi], channels, n_blocks, frame_len, header_len


def parse_adts_meta(payload: bytes) -> dict:
    """Walk every ADTS frame; return typed metadata:

    {version: "AAC-ADTS", profile, sample_rate, channels, n_frames,
     duration_ms, bitrate_kbps (average over the walked stream)}.

    channel_configuration 0 (channels defined in an in-band PCE) needs
    a real bitstream parser -> NotImplementedError; malformed ->
    ValueError. Same leading-junk scan tolerance as the MP3 walk."""
    end = len(payload)
    off = 0
    first = None
    scan_end = min(_SYNC_SCAN_LIMIT, max(end - 7, 0))
    while off <= scan_end:
        h = _parse_adts_header(payload, off)
        if h is not None:
            first = h
            break
        off += 1
    if first is None:
        raise ValueError("no ADTS frame sync found")
    profile, sr, channels, _nb, _fl, _hl = first
    if channels == 0:
        raise NotImplementedError(
            "ADTS channel config 0 (in-band PCE) needs a real codec"
        )
    n_frames = 0
    samples = 0
    n_bytes = 0
    while off + 7 <= end:
        h = _parse_adts_header(payload, off)
        if h is None:
            break  # trailing junk after the last whole frame
        hp, hsr, hch, nb, frame_len, _hl = h
        if (hp, hsr, hch) != (profile, sr, channels):
            break  # a different stream glued on
        if off + frame_len > end:
            break  # truncated final frame
        n_frames += 1
        samples += nb * 1024
        n_bytes += frame_len
        off += frame_len
    if n_frames == 0:
        raise ValueError("truncated ADTS: sync found but no whole frame")
    return {
        "version": "AAC-ADTS",
        "profile": _ADTS_PROFILE[profile],
        "sample_rate": sr,
        "channels": channels,
        "n_frames": n_frames,
        "duration_ms": samples * 1000 // sr,
        "bitrate_kbps": n_bytes * 8 * sr // (samples * 1000),
    }


def encode_adts_frames(
    n_frames: int,
    *,
    profile: int = 1,
    sfi: int = 4,
    channels: int = 2,
    body_bytes: int = 300,
    crc: bool = False,
    seed: int = 1,
) -> bytes:
    """Spec-valid ADTS frames with deterministic dummy payload — the
    metadata-path fixture (payload bits never decoded)."""
    out = bytearray()
    header_len = 9 if crc else 7
    frame_len = header_len + body_bytes
    for i in range(n_frames):
        b1 = 0xF0 | (0 << 3) | (0 << 1) | (0 if crc else 1)
        b2 = (profile << 6) | (sfi << 2) | ((channels >> 2) & 1)
        b3 = ((channels & 3) << 6) | ((frame_len >> 11) & 3)
        b4 = (frame_len >> 3) & 0xFF
        b5 = ((frame_len & 7) << 5) | 0x1F  # buffer fullness high bits
        b6 = (0xFC) | 0  # fullness low + 1 raw data block (value 0)
        out += bytes((0xFF, b1, b2, b3, b4, b5, b6))
        if crc:
            out += bytes((0, 0))
        out += bytes((seed * 17 + i * 3 + j) % 256 for j in range(body_bytes))
    return bytes(out)


# --------------------------------------------------------------------------
# FLAC — lossless audio: STREAMINFO is mandatory and first (metadata-only)
# --------------------------------------------------------------------------


def parse_flac_meta(payload: bytes) -> dict:
    """STREAMINFO walk (the FLAC format spec mandates it as the first
    metadata block): {sample_rate, channels, bits_per_sample, n_samples,
    duration_ms}. Full decode (rice-coded LPC residuals) is a real
    codec's job; malformed -> ValueError."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    off = 4
    while off + 4 <= len(payload):
        btype = payload[off] & 0x7F
        last = bool(payload[off] & 0x80)
        blen = int.from_bytes(payload[off + 1: off + 4], "big")
        body = off + 4
        if btype == 0:
            if blen < 34 or body + 34 > len(payload):
                raise ValueError("truncated STREAMINFO")
            b = payload[body: body + 34]
            sr = (b[10] << 12) | (b[11] << 4) | (b[12] >> 4)
            channels = ((b[12] >> 1) & 7) + 1
            bps = (((b[12] & 1) << 4) | (b[13] >> 4)) + 1
            n_samples = ((b[13] & 0xF) << 32) | int.from_bytes(
                b[14:18], "big"
            )
            if sr == 0:
                raise ValueError("STREAMINFO sample rate 0")
            return {
                "sample_rate": sr,
                "channels": channels,
                "bits_per_sample": bps,
                "n_samples": n_samples,
                "duration_ms": n_samples * 1000 // sr,
            }
        off = body + blen
        if last:
            break
    raise ValueError("no STREAMINFO block")


def encode_flac_streaminfo(
    *,
    sample_rate: int = 44100,
    channels: int = 2,
    bits_per_sample: int = 16,
    n_samples: int = 441_000,
    seed: int = 1,
) -> bytes:
    """fLaC magic + a spec-valid STREAMINFO block + a dummy padding
    block and fake frame bytes (the metadata-path fixture)."""
    b = bytearray(34)
    b[0:2] = (4096).to_bytes(2, "big")  # min block size
    b[2:4] = (4096).to_bytes(2, "big")
    b[10] = (sample_rate >> 12) & 0xFF
    b[11] = (sample_rate >> 4) & 0xFF
    b[12] = (
        ((sample_rate & 0xF) << 4)
        | (((channels - 1) & 7) << 1)
        | (((bits_per_sample - 1) >> 4) & 1)
    )
    b[13] = (((bits_per_sample - 1) & 0xF) << 4) | ((n_samples >> 32) & 0xF)
    b[14:18] = (n_samples & 0xFFFFFFFF).to_bytes(4, "big")
    info = bytes([0]) + (34).to_bytes(3, "big") + bytes(b)
    pad = bytes([0x81]) + (8).to_bytes(3, "big") + bytes(8)  # last block
    frames = bytes((seed + i) % 256 for i in range(64))
    return b"fLaC" + info + pad + frames
