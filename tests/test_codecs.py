"""Stdlib PNG/WAV codec kernels: round-trips, every scanline filter,
and the Spark operators running on REAL container payloads."""

import struct
import zlib

import numpy as np
import pytest

from win64_local_ocr_tool_spark.kernels.pngcodec import (
    PNG_MAGIC,
    decode_png,
    encode_png,
    parse_png_header,
)
from win64_local_ocr_tool_spark.kernels.wavcodec import (
    decode_wav,
    encode_wav,
    parse_wav_header,
)


def _rand_img(h, w, c, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_all_color_types(channels):
    img = _rand_img(13, 17, channels, seed=channels)
    payload = encode_png(img)
    assert payload[:8] == PNG_MAGIC
    assert parse_png_header(payload) == (17, 13, channels)
    out = decode_png(payload)
    assert out.shape == (13, 17, channels)
    assert (out == img).all()


def _png_with_filters(img, ftypes):
    """Encode img applying a chosen filter type per scanline — exercises
    the decoder's unfilter paths independently of our encoder (which
    always emits filter 0)."""
    h, w, c = img.shape
    color = {1: 0, 3: 2, 2: 4, 4: 6}[c]
    stride = w * c
    flat = img.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    for y in range(h):
        f = ftypes[y % len(ftypes)]
        line = flat[y]
        prior = flat[y - 1] if y else np.zeros(stride, np.int32)
        filt = np.zeros(stride, np.int32)
        for x in range(stride):
            a = line[x - c] if x >= c else 0
            b = prior[x]
            cc = prior[x - c] if x >= c else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            filt[x] = (line[x] - pred) & 255
        raw += bytes([f]) + filt.astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("channels", [1, 3, 4])
def test_png_decoder_handles_every_filter_type(channels):
    img = _rand_img(10, 9, channels, seed=7 + channels)
    payload = _png_with_filters(img, ftypes=[0, 1, 2, 3, 4])
    out = decode_png(payload)
    assert (out == img).all()


def test_png_rejects_unsupported_variants():
    img = _rand_img(4, 4, 3, seed=1)
    good = encode_png(img)
    # flip bit depth to 16 inside IHDR -> must raise, not mis-decode
    bad = bytearray(good)
    bad[24] = 16
    with pytest.raises(ValueError):
        parse_png_header(bytes(bad))
    with pytest.raises(ValueError):
        parse_png_header(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)


def test_wav_roundtrip():
    rate = 16000
    samples = (np.sin(np.linspace(0, 20, 1000)) * 20000).astype("<i2")
    payload = encode_wav(rate, samples)
    assert parse_wav_header(payload) == (rate, 1000, 1, 2)
    got_rate, got = decode_wav(payload)
    assert got_rate == rate
    assert (got[:, 0] == samples).all()


def test_media_metadata_on_real_png_and_wav(spark):
    from win64_local_ocr_tool_spark.operators.multimodal import (
        media_metadata,
        render_png,
        render_wav,
    )

    df = spark.createDataFrame(
        [
            (1, render_png(40, 30, 3, seed=5)),
            (2, render_wav(16000, 800, seed=5)),
        ],
        schema="media_id long, payload binary",
    )
    meta = {r["media_id"]: r for r in media_metadata(df).collect()}
    png = meta[1]
    assert (png["container"], png["status"], png["kind"]) == ("png", "ok", "image")
    assert (png["width"], png["height"], png["n_channels"]) == (40, 30, 3)
    wav = meta[2]
    assert (wav["container"], wav["status"], wav["kind"]) == ("wav", "ok", "audio")
    assert wav["sample_rate"] == 16000


def test_media_resize_on_real_png(spark):
    from win64_local_ocr_tool_spark.operators.multimodal import (
        media_resize,
        render_png,
    )

    src = render_png(40, 30, 3, seed=9)
    df = spark.createDataFrame(
        [(1, src)], schema="media_id long, payload binary"
    )
    row = media_resize(df, 16, 12).collect()[0]
    assert row["status"] == "ok"
    out = decode_png(bytes(row["payload"]))
    img = decode_png(src)
    ys = (np.arange(12) * 30) // 12
    xs = (np.arange(16) * 40) // 16
    assert (out == img[ys][:, xs]).all()


def test_png_decode_refuses_oversize_images(spark):
    """A well-formed multi-megapixel PNG must raise (bounded stdlib
    unfilter loop) and surface as an error row in the resize operator,
    never a minutes-long task stall."""
    import struct as _struct
    import zlib as _zlib

    from win64_local_ocr_tool_spark.kernels.pngcodec import (
        MAX_DECODE_PIXELS,
        PNG_MAGIC,
        parse_png_header,
    )
    from win64_local_ocr_tool_spark.operators.multimodal import media_resize

    # hand-build a header-valid 2000x2000 gray PNG (4M pixels) with a
    # tiny bogus body — decode must refuse on dimensions BEFORE touching
    # the body
    w = h = 2000
    assert w * h > MAX_DECODE_PIXELS
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)

    def chunk(t, d):
        return (
            _struct.pack(">I", len(d)) + t + d
            + _struct.pack(">I", _zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    payload = (
        PNG_MAGIC + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(b"\x00" * 10))
        + chunk(b"IEND", b"")
    )
    # header-only metadata parse still works (wider bound)
    assert parse_png_header(payload) == (2000, 2000, 1)
    with pytest.raises(ValueError):
        decode_png(payload)
    df = spark.createDataFrame(
        [(1, payload)], schema="media_id long, payload binary"
    )
    row = media_resize(df, 8, 8).collect()[0]
    assert row["status"] == "error"


# ---------------------------------------------------------------------------
# baseline-JPEG codec (kernels/jpegcodec.py)
# ---------------------------------------------------------------------------

from win64_local_ocr_tool_spark.kernels.jpegcodec import (  # noqa: E402
    JPEG_MAGIC,
    MAX_DECODE_PIXELS as JPEG_MAX_DECODE_PIXELS,
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
    parse_jpeg_header,
)


def _smooth_img(h, w, c, seed=0):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [((xx * 2 + yy * 3 + seed + k * 37) // 4) % 200 + 20
         for k in range(c)],
        axis=-1,
    ).astype(np.uint8)


def test_jpeg_flat_roundtrip_exact():
    """Flat blocks have only a DC coefficient — the lossy pipeline
    must reproduce them EXACTLY (any drift means broken level shift,
    quant, or IDCT)."""
    for val, c in [(128, 1), (0, 1), (255, 1), (200, 3), (7, 3)]:
        img = np.full((16, 24, c), val, np.uint8)
        payload = encode_jpeg(img, quality=85)
        assert payload[:3] == JPEG_MAGIC
        assert parse_jpeg_header(payload) == (24, 16, c)
        out = decode_jpeg(payload)
        assert out.shape == (16, 24, c)
        assert (out == img).all(), (val, c)


@pytest.mark.parametrize("channels", [1, 3])
def test_jpeg_smooth_roundtrip_bounded_error(channels):
    img = _smooth_img(40, 56, channels, seed=3)
    payload = encode_jpeg(img, quality=90)
    out = decode_jpeg(payload)
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 8, err.max()


def test_jpeg_420_subsampling_and_odd_dims():
    """4:2:0 exercises the decoder's 2x2 sampling-factor path; odd
    dimensions exercise MCU padding + crop on both sides."""
    img = _smooth_img(37, 53, 3, seed=5)
    payload = encode_jpeg(img, quality=85, subsample=True)
    assert parse_jpeg_header(payload) == (53, 37, 3)
    out = decode_jpeg(payload)
    assert out.shape == (37, 53, 3)
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 16, err.max()


def test_jpeg_restart_markers_change_nothing():
    """DRI/RSTn is a resilience feature — decoded pixels must be
    IDENTICAL with and without restart intervals (same coefficients,
    same IDCT)."""
    img = _smooth_img(32, 48, 3, seed=9)
    plain = decode_jpeg(encode_jpeg(img, quality=85))
    for ri in (1, 2, 5):
        with_rst = decode_jpeg(
            encode_jpeg(img, quality=85, restart_interval=ri)
        )
        assert (with_rst == plain).all(), ri
    # and combined with subsampling
    a = decode_jpeg(encode_jpeg(img, quality=80, subsample=True))
    b = decode_jpeg(
        encode_jpeg(img, quality=80, subsample=True, restart_interval=3)
    )
    assert (a == b).all()


def test_jpeg_fill_bytes_before_markers_decode():
    """T.81 B.1.1.2 allows runs of 0xFF fill bytes before any marker,
    including RSTn and EOI inside/after entropy data — a conforming
    third-party baseline JPEG using fill padding must decode to the
    same pixels, not truncate to an error row (ADVICE r3)."""
    img = _smooth_img(32, 48, 3, seed=4)
    plain = encode_jpeg(img, quality=85, restart_interval=2)
    want = decode_jpeg(plain)
    sos = plain.find(b"\xff\xda")
    assert sos > 0
    head, body = plain[:sos], plain[sos:]
    # fill bytes before every restart marker (FF inside entropy data is
    # otherwise always FF00-stuffed, so FFD0-FFD7 here ARE markers)
    for rst in range(0xD0, 0xD8):
        body = body.replace(bytes([0xFF, rst]), bytes([0xFF, 0xFF, rst]))
    # and a run of fill bytes before EOI
    assert body.endswith(b"\xff\xd9")
    body = body[:-2] + b"\xff\xff\xff" + b"\xff\xd9"
    padded = head + body
    assert padded != plain
    assert (decode_jpeg(padded) == want).all()


def test_jpeg_decode_deterministic():
    img = _smooth_img(24, 40, 3, seed=11)
    payload = encode_jpeg(img, quality=75, subsample=True)
    assert payload == encode_jpeg(img, quality=75, subsample=True)
    assert (decode_jpeg(payload) == decode_jpeg(payload)).all()


def test_jpeg_rejects_unsupported_profiles():
    """Valid-but-unsupported profiles -> NotImplementedError (surfaces
    as no_codec); malformed payloads -> ValueError (error rows)."""
    good = bytearray(encode_jpeg(_smooth_img(16, 16, 1)))
    i = good.find(b"\xff\xc0")
    for sof in (0xC3, 0xC9, 0xCB):  # lossless/arithmetic/hierarchical
        bad = bytearray(good)
        bad[i + 1] = sof
        with pytest.raises(NotImplementedError):
            parse_jpeg_header(bytes(bad))
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(bad))
    # SOF2 (progressive) now parses; a baseline stream merely relabeled
    # as progressive is malformed (its scan header violates Annex G),
    # not no_codec
    bad = bytearray(good)
    bad[i + 1] = 0xC2
    assert parse_jpeg_header(bytes(bad)) == (16, 16, 1)
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    # 12-bit precision
    bad = bytearray(good)
    bad[i + 4] = 12
    with pytest.raises(NotImplementedError):
        parse_jpeg_header(bytes(bad))
    # malformed: magic then garbage / truncated segment / bare SOI
    for junk in (
        b"\xff\xd8\xff" + b"\x00" * 64,
        b"\xff\xd8\xff\xdb\x00\x03\x01",
        b"\xff\xd8",
    ):
        with pytest.raises(ValueError):
            parse_jpeg_header(junk)
    # truncated entropy data -> ValueError, never a hang or wrong array
    full = encode_jpeg(_smooth_img(32, 32, 3, seed=2), quality=85)
    with pytest.raises(ValueError):
        decode_jpeg(full[: len(full) // 2])


def test_jpeg_decode_refuses_oversize_images():
    """Header-valid multi-megapixel JPEG must raise (bounded entropy
    loop) while header-only metadata parsing still works."""
    payload = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
    i = payload.find(b"\xff\xc0")
    struct.pack_into(">HH", payload, i + 5, 2000, 2000)
    assert 2000 * 2000 > JPEG_MAX_DECODE_PIXELS
    assert parse_jpeg_header(bytes(payload)) == (2000, 2000, 1)
    with pytest.raises(ValueError):
        decode_jpeg(bytes(payload))


@pytest.mark.parametrize(
    "shape,kwargs",
    [
        ((32, 48, 3), {}),
        ((32, 48, 3), {"subsample": True}),
        ((17, 23, 1), {}),
        ((16, 16, 3), {"quality": 50}),
        ((40, 24, 3), {"restart_interval": 3}),
        ((9, 10, 3), {"subsample": True, "restart_interval": 2}),
    ],
)
def test_jpeg_progressive_decodes_identical_to_baseline(shape, kwargs):
    """encode_jpeg_progressive reorganizes the SAME quantized
    coefficients into SOF2 multi-scan form (DC/AC first + refinement,
    spectral bands, EOB runs), so decode must be pixel-identical to
    the baseline file at equal quality/subsampling — the strongest
    cross-check of both the progressive encoder and decoder."""
    img = _smooth_img(*shape, seed=sum(shape))
    kwargs.setdefault("quality", 85)
    prog = encode_jpeg_progressive(img, **kwargs)
    assert prog[:3] == JPEG_MAGIC
    assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog[:200]
    assert parse_jpeg_header(prog) == (shape[1], shape[0], shape[2])
    want = decode_jpeg(encode_jpeg(img, **kwargs))
    assert (decode_jpeg(prog) == want).all()


def test_jpeg_progressive_extreme_content():
    """Flat image -> maximal EOB runs (EOBn symbols with n>0); noise ->
    dense AC with ZRL-in-refinement; sparse spikes -> newly-nonzero
    coefficients inside refinement scans. All three must reconstruct
    the exact baseline pixels."""
    rng = np.random.default_rng(11)
    flat = np.full((64, 80, 3), 137, np.uint8)
    noise = rng.integers(0, 256, (48, 56, 3)).astype(np.uint8)
    sparse = np.zeros((40, 40, 1), np.uint8)
    sparse[13, 29, 0] = 255
    sparse[31, 5, 0] = 200
    for img in (flat, noise, sparse):
        want = decode_jpeg(encode_jpeg(img))
        assert (decode_jpeg(encode_jpeg_progressive(img)) == want).all()


def test_jpeg_progressive_corrupt_never_hangs():
    """Truncations and byte flips of a progressive stream must raise
    ValueError/NotImplementedError (error/no_codec rows), never hang
    or leak another exception type."""
    rng = np.random.default_rng(13)
    prog = encode_jpeg_progressive(
        rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
    )
    for cut in range(2, len(prog), 97):
        try:
            decode_jpeg(prog[:cut])
        except (ValueError, NotImplementedError):
            pass
    for pos in range(2, len(prog), 41):
        b = bytearray(prog)
        b[pos] ^= 0xFF
        try:
            decode_jpeg(bytes(b))
        except (ValueError, NotImplementedError):
            pass


def test_media_pipeline_on_real_jpeg(spark):
    """media_metadata + media_resize run the REAL JPEG path end-to-end:
    ok rows, correct dims, JPEG-out payload that decodes to the target
    size."""
    from win64_local_ocr_tool_spark.operators.multimodal import (
        media_metadata,
        media_resize,
        render_jpeg,
    )

    df = spark.createDataFrame(
        [(1, render_jpeg(64, 40, 3, seed=6)),   # 4:2:0 (even seed)
         (2, render_jpeg(72, 32, 1, seed=9)),   # gray + DRI (seed%3==0)
         (3, render_jpeg(80, 48, 3, seed=7))],  # 4:4:4
        schema="media_id long, payload binary",
    )
    meta = {r["media_id"]: r for r in media_metadata(df).collect()}
    assert all(meta[k]["status"] == "ok" for k in (1, 2, 3))
    assert (meta[1]["width"], meta[1]["height"], meta[1]["n_channels"]) \
        == (64, 40, 3)
    assert meta[2]["n_channels"] == 1
    rez = {r["media_id"]: r for r in media_resize(df, 20, 12).collect()}
    for k in (1, 2, 3):
        assert rez[k]["status"] == "ok"
        out = decode_jpeg(bytes(rez[k]["payload"]))
        assert out.shape[:2] == (12, 20)


# ---------------------------------------------------------------------------
# GIF (kernels/gifcodec.py)
# ---------------------------------------------------------------------------

from win64_local_ocr_tool_spark.kernels.gifcodec import (  # noqa: E402
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    encode_gif,
    parse_gif_header,
)


@pytest.mark.parametrize("n_colors", [1, 4, 17, 256])
def test_gif_roundtrip_palette_exact(n_colors):
    """GIF is lossless for <=256-color images: encode -> decode is
    pixel-identical across palette sizes (including the 1-color and
    full-table edges)."""
    rng = np.random.default_rng(n_colors)
    pal = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
    img = pal[rng.integers(0, n_colors, size=(23, 17))]
    payload = encode_gif(img)
    assert parse_gif_header(payload) == (17, 23, 3)
    assert (decode_gif(payload) == img).all()


def test_gif_lzw_width_growth_and_table_overflow():
    """Long low-entropy + high-entropy stream forces every LZW edge:
    code-width growth to 12 bits, table overflow -> clear -> rebuild."""
    rng = np.random.default_rng(0)
    seq = np.concatenate(
        [np.zeros(5000, dtype=np.int32),
         rng.integers(0, 200, size=30000).astype(np.int32)]
    )
    out = _lzw_decode(_lzw_encode(seq, 8), 8, len(seq))
    assert (out == seq.astype(np.uint8)).all()


def test_gif_interlaced_and_gif89a_extensions():
    """An interlaced GIF89a with a graphic-control extension decodes to
    the same pixels as its non-interlaced twin (4-pass row shuffle +
    extension skipping)."""
    import struct as _struct

    rng = np.random.default_rng(2)
    h, w, ncol = 13, 6, 8
    pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
    idx = rng.integers(0, ncol, size=(h, w)).astype(np.int32)
    order = [
        r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
        for r in range(start, h, step)
    ]
    table = np.zeros((8, 3), dtype=np.uint8)
    table[:ncol] = pal
    raw = bytearray(b"GIF89a")
    raw += _struct.pack("<HHBBB", w, h, 0x80 | 2, 0, 0)
    raw += table.tobytes()
    raw += b"\x21\xf9\x04\x01\x00\x00\x00\x00"  # GCE, skipped
    raw += b"\x2c" + _struct.pack("<HHHHB", 0, 0, w, h, 0x40)
    raw.append(3)
    data = _lzw_encode(idx[order].reshape(-1), 3)
    for i in range(0, len(data), 255):
        block = data[i:i + 255]
        raw.append(len(block))
        raw += block
    raw += b"\x00\x3b"
    assert (decode_gif(bytes(raw)) == pal[idx]).all()


def test_gif_corrupt_payloads_raise_never_hang():
    good = encode_gif(np.zeros((4, 4, 3), dtype=np.uint8))
    bads = [
        b"GIF87a",                      # nothing after magic
        b"NOTGIF" + b"\x00" * 20,       # wrong magic
        good[:20],                       # truncated mid-table
        good[:-5],                       # truncated entropy stream
        good[:13] + b"\x3b",             # trailer before any image
    ]
    for bad in bads:
        with pytest.raises(ValueError):
            decode_gif(bad)


def test_gif_encode_rejects_empty_image():
    """Zero-pixel input must raise the module-contract ValueError, not
    leak an IndexError from the LZW encoder (ADVICE r3)."""
    for shape in [(0, 5, 3), (5, 0, 3), (0, 0, 3)]:
        with pytest.raises(ValueError, match="empty"):
            encode_gif(np.zeros(shape, dtype=np.uint8))


def test_gif_decode_refuses_oversize_images():
    import struct as _struct

    big = bytearray(encode_gif(np.zeros((4, 4, 3), dtype=np.uint8)))
    _struct.pack_into("<HH", big, 6, 4000, 4000)      # screen
    # image descriptor sits right after the 8-entry... find 0x2c
    at = bytes(big).index(b"\x2c")
    _struct.pack_into("<HH", big, at + 5, 4000, 4000)  # frame dims
    with pytest.raises(ValueError, match="refusing full decode"):
        decode_gif(bytes(big))
    # header-only metadata still fine on the same payload
    assert parse_gif_header(bytes(big)) == (4000, 4000, 3)


# ---------------------------------------------------------------------------
# BMP (kernels/bmpcodec.py)
# ---------------------------------------------------------------------------

from win64_local_ocr_tool_spark.kernels.bmpcodec import (  # noqa: E402
    decode_bmp,
    encode_bmp,
    parse_bmp_header,
)


@pytest.mark.parametrize("channels", [3, 4])
def test_bmp_roundtrip_exact(channels):
    """BI_RGB BMP is lossless at 24 and 32 bit, odd widths exercising
    the 4-byte row padding."""
    rng = np.random.default_rng(channels)
    img = rng.integers(0, 256, size=(9, 7, channels), dtype=np.uint8)
    payload = encode_bmp(img)
    assert parse_bmp_header(payload) == (7, 9, channels)
    assert (decode_bmp(payload) == img).all()


def test_bmp_top_down_and_unsupported_profiles():
    import struct as _struct

    img = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(4, 3, 3)
    payload = bytearray(encode_bmp(img))
    # flip to top-down (negative height) and pre-flip the rows
    flipped = bytearray(encode_bmp(img[::-1]))
    _struct.pack_into("<i", flipped, 22, -4)
    assert (decode_bmp(bytes(flipped)) == img).all()
    # unsupported-but-real variants -> NotImplementedError (no_codec)
    bf = bytearray(payload)
    _struct.pack_into("<I", bf, 14, 108)  # BITMAPV4 ...
    _struct.pack_into("<I", bf, 30, 3)    # ... BI_BITFIELDS at 24 bpp
    with pytest.raises(NotImplementedError):
        parse_bmp_header(bytes(bf))
    # malformed -> ValueError: RLE flag on a 24-bit body, truncations
    rle24 = bytearray(payload)
    _struct.pack_into("<I", rle24, 30, 1)  # BI_RLE8 requires 8 bpp
    with pytest.raises(ValueError):
        parse_bmp_header(bytes(rle24))
    with pytest.raises(ValueError):
        parse_bmp_header(bytes(payload[:30]))
    with pytest.raises(ValueError):
        decode_bmp(bytes(payload[:-8]))


def test_media_pipeline_on_real_gif_and_bmp(spark):
    """media_metadata + media_resize run the REAL GIF and BMP paths
    end-to-end: correct dims/kind, resized payload round-trips in the
    SAME container, nearest-neighbor pixels exact."""
    from win64_local_ocr_tool_spark.operators.multimodal import (
        media_metadata,
        media_resize,
        render_bmp,
        render_gif,
    )

    gif, bmp = render_gif(30, 20, 12, seed=4), render_bmp(28, 18, 4, seed=4)
    df = spark.createDataFrame(
        [(1, gif), (2, bmp)], schema="media_id long, payload binary"
    )
    meta = {r["media_id"]: r for r in media_metadata(df).collect()}
    assert (meta[1]["container"], meta[1]["kind"], meta[1]["status"]) == (
        "gif", "image", "ok")
    assert (meta[1]["width"], meta[1]["height"], meta[1]["n_channels"]) == (
        30, 20, 3)
    assert (meta[2]["container"], meta[2]["n_channels"]) == ("bmp", 4)

    rez = {r["media_id"]: r for r in media_resize(df, 10, 8).collect()}
    ys, xs = (np.arange(8) * 20) // 8, (np.arange(10) * 30) // 10
    got = decode_gif(bytes(rez[1]["payload"]))
    assert (got == decode_gif(gif)[ys][:, xs]).all()
    ys2, xs2 = (np.arange(8) * 18) // 8, (np.arange(10) * 28) // 10
    got2 = decode_bmp(bytes(rez[2]["payload"]))
    assert (got2 == decode_bmp(bmp)[ys2][:, xs2]).all()


def test_bmp_8bit_palette_decode():
    """Hand-assembled 8-bit palette BMP (BGRX quads, padded index
    rows) decodes through the palette to RGB."""
    import struct as _struct

    rng = np.random.default_rng(8)
    w, h, ncol = 5, 4, 16
    pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
    idx = rng.integers(0, ncol, size=(h, w)).astype(np.uint8)
    quads = np.zeros((256, 4), dtype=np.uint8)
    quads[:ncol, 0], quads[:ncol, 1], quads[:ncol, 2] = (
        pal[:, 2], pal[:, 1], pal[:, 0])  # BGRX
    stride = (w + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w] = idx[::-1]  # bottom-up
    body = rows.tobytes()
    dib = _struct.pack(
        "<IiihhIIiiII", 40, w, h, 1, 8, 0, len(body), 2835, 2835, 256, 0)
    off = 14 + len(dib) + quads.size
    head = _struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    payload = head + dib + quads.tobytes() + body
    assert parse_bmp_header(payload) == (w, h, 3)
    assert (decode_bmp(payload) == pal[idx]).all()
    # out-of-palette index (biClrUsed=2) -> ValueError, not garbage
    dib2 = _struct.pack(
        "<IiihhIIiiII", 40, w, h, 1, 8, 0, len(body), 2835, 2835, 2, 0)
    off2 = 14 + len(dib2) + 8
    head2 = _struct.pack("<2sIHHI", b"BM", off2 + len(body), 0, 0, off2)
    bad = head2 + dib2 + quads.tobytes()[:8] + body
    with pytest.raises(ValueError):
        decode_bmp(bad)


def _palette_bmp(idx, pal, bpp, compression=0, body=None):
    """Hand-assemble a palette BMP around index image ``idx`` (bottom-up
    packing for uncompressed depths; ``body`` overrides pixel data for
    RLE streams)."""
    import struct as _struct

    h, w = idx.shape
    ncol = len(pal)
    quads = np.zeros((ncol, 4), dtype=np.uint8)
    quads[:, 0], quads[:, 1], quads[:, 2] = pal[:, 2], pal[:, 1], pal[:, 0]
    if body is None:
        stride = ((w * bpp + 31) // 32) * 4
        rows = np.zeros((h, stride * 8), dtype=np.uint8)
        flipped = idx[::-1]
        for b in range(bpp):  # MSB-first packing
            rows[:, b : w * bpp : bpp] = (flipped >> (bpp - 1 - b)) & 1
        body = np.packbits(rows, axis=1)[:, :stride].tobytes()
    dib = _struct.pack(
        "<IiihhIIiiII", 40, w, h, 1, bpp, compression, len(body),
        2835, 2835, ncol, 0,
    )
    off = 14 + len(dib) + quads.size
    head = _struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    return head + dib + quads.tobytes() + body


@pytest.mark.parametrize("bpp", [1, 2, 4])
def test_bmp_low_bit_palette_decode(bpp):
    """1/2/4-bit packed palette rows (MSB-first, 4-byte-aligned
    strides) decode through the palette to RGB — closing the low-bit
    half of the old BMP no_codec boundary."""
    rng = np.random.default_rng(20 + bpp)
    w, h = 11, 6  # odd width exercises stride padding + partial bytes
    ncol = 1 << bpp
    pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
    idx = rng.integers(0, ncol, size=(h, w)).astype(np.uint8)
    payload = _palette_bmp(idx, pal, bpp)
    assert parse_bmp_header(payload) == (w, h, 3)
    assert (decode_bmp(payload) == pal[idx]).all()


def test_bmp_rle8_and_rle4_decode():
    """BI_RLE8/BI_RLE4 streams — encoded runs, absolute mode with word
    alignment, EOL, delta (skipped pixels default to palette 0), EOB —
    decode exactly; truncated streams raise ValueError."""
    rng = np.random.default_rng(31)
    w, h = 13, 5
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)

    def rle8_body(idx):
        out = bytearray()
        for y in range(h - 1, -1, -1):  # storage order is bottom-up
            row = idx[y]
            x = 0
            while x < w:
                run = 1
                while x + run < w and row[x + run] == row[x] and run < 255:
                    run += 1
                if run >= 3:
                    out += bytes([run, int(row[x])])
                    x += run
                elif w - x >= 3:  # absolute mode (literal count >= 3)
                    lit = 3
                    out += bytes([0, lit]) + bytes(int(v) for v in row[x : x + lit])
                    if lit & 1:
                        out.append(0)  # word alignment
                    x += lit
                else:  # short tail: 1-pixel encoded runs (0,1/0,2 are escapes)
                    out += bytes([1, int(row[x])])
                    x += 1
            out += bytes([0, 0])  # EOL
        out += bytes([0, 1])  # EOB
        return bytes(out)

    idx8 = rng.integers(0, 16, size=(h, w)).astype(np.uint8)
    idx8[:, 3:9] = 7  # guarantee some runs
    p8 = _palette_bmp(idx8, pal, 8, compression=1, body=rle8_body(idx8))
    assert parse_bmp_header(p8) == (w, h, 3)
    assert (decode_bmp(p8) == pal[idx8]).all()

    # RLE4: runs alternate the two nibbles of the value byte
    idx4 = np.zeros((h, w), dtype=np.uint8)
    body4 = bytearray()
    expect = np.zeros((h, w), dtype=np.uint8)
    # storage row 0 (bottom image row): run of 5 alternating (9, 2)
    body4 += bytes([5, (9 << 4) | 2])
    expect[h - 1, 0:5] = [9, 2, 9, 2, 9]
    # delta: skip 2 right, stay on row (skipped pixels -> palette 0)
    body4 += bytes([0, 2, 2, 0])
    # absolute mode: 5 literal nibbles -> 3 data bytes + 1 pad byte
    body4 += bytes([0, 5, (1 << 4) | 3, (5 << 4) | 7, (11 << 4), 0])
    expect[h - 1, 7:12] = [1, 3, 5, 7, 11]
    body4 += bytes([0, 0])  # EOL
    # storage row 1: a run crossing to odd count
    body4 += bytes([3, (14 << 4) | 6])
    expect[h - 2, 0:3] = [14, 6, 14]
    body4 += bytes([0, 0, 0, 1])  # EOL + EOB (rows above stay 0)
    p4 = _palette_bmp(idx4, pal, 4, compression=2, body=bytes(body4))
    assert parse_bmp_header(p4) == (w, h, 3)
    assert (decode_bmp(p4) == pal[expect]).all()

    # truncated RLE stream -> ValueError, never a hang or garbage
    with pytest.raises(ValueError):
        decode_bmp(_palette_bmp(idx8, pal, 8, compression=1,
                                body=rle8_body(idx8)[:-3]))


def test_bmp_16bit_555_and_565_decode():
    """16-bit pixels (RGB555 BI_RGB default and 565 BI_BITFIELDS)
    expand to 8-bit channels by GDI-style bit replication; nonstandard
    masks stay no_codec."""
    import struct as _struct

    rng = np.random.default_rng(44)
    w, h = 7, 5
    v = rng.integers(0, 1 << 16, size=(h, w), dtype=np.uint16)

    def bmp16(vals, compression, masks=b""):
        stride = (w * 2 + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        le = vals[::-1].astype("<u2").tobytes()  # bottom-up storage
        rows_flat = np.frombuffer(le, np.uint8).reshape(h, w * 2)
        rows[:, : w * 2] = rows_flat
        body = rows.tobytes()
        dib = _struct.pack(
            "<IiihhIIiiII", 40, w, h, 1, 16, compression, len(body),
            2835, 2835, 0, 0,
        )
        off = 14 + len(dib) + len(masks)
        head = _struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
        return head + dib + masks + body

    def rep5(x):
        return ((x << 3) | (x >> 2)).astype(np.uint8)

    # RGB555 via plain BI_RGB
    p555 = bmp16(v, 0)
    assert parse_bmp_header(p555) == (w, h, 3)
    want555 = np.stack(
        [rep5((v >> 10) & 31), rep5((v >> 5) & 31), rep5(v & 31)], axis=-1
    )
    assert (decode_bmp(p555) == want555).all()
    # RGB565 via BI_BITFIELDS masks
    p565 = bmp16(v, 3, _struct.pack("<III", 0xF800, 0x7E0, 0x1F))
    g6 = ((v >> 5) & 63).astype(np.uint16)
    want565 = np.stack(
        [rep5((v >> 11) & 31),
         (((g6 << 2) | (g6 >> 4)).astype(np.uint8)),
         rep5(v & 31)],
        axis=-1,
    )
    assert (decode_bmp(p565) == want565).all()
    # nonstandard masks -> no_codec, not garbage
    pbad = bmp16(v, 3, _struct.pack("<III", 0xF00, 0xF0, 0xF))
    with pytest.raises(NotImplementedError):
        parse_bmp_header(pbad)
    # top-down 565 BI_BITFIELDS is VALID (only RLE forbids top-down)
    ptd = bytearray(bmp16(v[::-1], 3, _struct.pack("<III", 0xF800, 0x7E0, 0x1F)))
    _struct.pack_into("<i", ptd, 22, -h)
    assert (decode_bmp(bytes(ptd)) == want565).all()
    # truncated bitfields header is MALFORMED (error), not no_codec
    with pytest.raises(ValueError):
        parse_bmp_header(p565[:60])


def test_bmp_32bit_standard_bitfields_decode():
    """32-bit BI_BITFIELDS with the standard 8-8-8 masks is
    byte-identical to BI_RGB 32-bit and must decode; nonstandard
    32-bit masks stay no_codec."""
    import struct as _struct

    img = _rand_img(5, 6, 4, seed=3)
    payload = bytearray(encode_bmp(img))
    _struct.pack_into("<I", payload, 30, 3)  # BI_BITFIELDS
    masked = bytes(payload[:54]) + _struct.pack(
        "<III", 0xFF0000, 0xFF00, 0xFF
    ) + bytes(payload[54:])
    fixed = bytearray(masked)
    _struct.pack_into("<I", fixed, 10, 54 + 12)  # data offset past masks
    assert parse_bmp_header(bytes(fixed)) == (6, 5, 4)
    assert (decode_bmp(bytes(fixed)) == img).all()
    bad = bytearray(fixed)
    _struct.pack_into("<III", bad, 54, 0xFF, 0xFF00, 0xFF0000)  # BGR order
    with pytest.raises(NotImplementedError):
        parse_bmp_header(bytes(bad))


def test_gif_subscreen_first_frame_composites_onto_canvas():
    """A first frame smaller than the logical screen (legal GIF89a,
    emitted by optimizing encoders) must decode to SCREEN-sized output:
    frame pasted at (left, top), background color elsewhere — keeping
    decode dims equal to parse_gif_header dims."""
    import struct as _struct

    from win64_local_ocr_tool_spark.kernels.gifcodec import _lzw_encode

    rng = np.random.default_rng(6)
    sw, sh, fw, fh, left, top = 12, 9, 4, 3, 5, 2
    ncol = 8
    pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
    idx = rng.integers(0, ncol, size=(fh, fw)).astype(np.int32)
    table = np.zeros((8, 3), dtype=np.uint8)
    table[:ncol] = pal
    bg_index = 3
    raw = bytearray(b"GIF89a")
    raw += _struct.pack("<HHBBB", sw, sh, 0x80 | 2, bg_index, 0)
    raw += table.tobytes()
    raw += b"\x2c" + _struct.pack("<HHHHB", left, top, fw, fh, 0)
    raw.append(3)
    data = _lzw_encode(idx.reshape(-1), 3)
    for i in range(0, len(data), 255):
        blk = data[i:i + 255]
        raw.append(len(blk))
        raw += blk
    raw += b"\x00\x3b"

    assert parse_gif_header(bytes(raw)) == (sw, sh, 3)
    out = decode_gif(bytes(raw))
    assert out.shape == (sh, sw, 3)
    assert (out[top:top + fh, left:left + fw] == pal[idx]).all()
    mask = np.ones((sh, sw), dtype=bool)
    mask[top:top + fh, left:left + fw] = False
    assert (out[mask] == pal[bg_index]).all()
    # a frame OVERFLOWING the screen is malformed, not an OOB write
    bad = bytearray(raw)
    at = bytes(bad).index(b"\x2c")
    _struct.pack_into("<HH", bad, at + 5, 10, 10)  # 10x10 at (5,2)
    with pytest.raises(ValueError, match="exceeds the logical screen"):
        decode_gif(bytes(bad))


def test_bmp_bitfields_offset_and_os2_method3_boundaries():
    """ADVICE r4: (1) a 40-byte-header BI_BITFIELDS file whose
    data_offset points inside the appended mask DWORDs [54, 66) is
    MALFORMED — decoding would alias the masks as pixel data; (2) an
    OS/2 2.x header (dib_size 64) reuses method 3 for Huffman-1D, a
    real format this codec does not cover (no_codec, not bitfields)."""
    import struct as _struct

    rng = np.random.default_rng(45)
    w, h = 7, 5
    v = rng.integers(0, 1 << 16, size=(h, w), dtype=np.uint16)
    stride = (w * 2 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 2] = np.frombuffer(
        v[::-1].astype("<u2").tobytes(), np.uint8
    ).reshape(h, w * 2)
    body = rows.tobytes()
    masks = _struct.pack("<III", 0xF800, 0x7E0, 0x1F)
    dib = _struct.pack(
        "<IiihhIIiiII", 40, w, h, 1, 16, 3, len(body), 2835, 2835, 0, 0
    )
    off = 14 + len(dib) + len(masks)
    good = (
        _struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
        + dib + masks + body
    )
    assert parse_bmp_header(good) == (w, h, 3)
    # data_offset inside the mask DWORDs -> malformed, never aliased
    for bad_off in (54, 60, 65):
        bad = bytearray(good)
        _struct.pack_into("<I", bad, 10, bad_off)
        with pytest.raises(ValueError):
            parse_bmp_header(bytes(bad))
    # OS/2 2.x + method 3 = Huffman-1D -> no_codec before mask parsing
    os2 = bytearray(good)
    _struct.pack_into("<I", os2, 14, 64)
    with pytest.raises(NotImplementedError):
        parse_bmp_header(bytes(os2))
    # ... and method 4 there is RLE24, equally no_codec
    os2rle = bytearray(os2)
    _struct.pack_into("<I", os2rle, 30, 4)
    with pytest.raises(NotImplementedError):
        parse_bmp_header(bytes(os2rle))


def test_mp3_frame_walk_metadata_exact():
    """MP3 metadata kernel (r4 verdict item 7 — the last no_codec class
    with real crawl share): frame-header walk yields exact frame count,
    duration and VBR-correct average bitrate; ID3v2 prefixes and ID3v1
    trailers are skipped; the boundary split holds (free-format ->
    NotImplementedError, junk/truncation -> ValueError)."""
    from win64_local_ocr_tool_spark.kernels.mp3meta import (
        _parse_frame_header,
        encode_mp3_frames,
        parse_mp3_meta,
    )

    # MPEG1 Layer III, 44100 Hz, br_idx 9 = 128 kbps, stereo
    p = encode_mp3_frames(12, version=3, layer=3, br_idx=9, sr_idx=0)
    m = parse_mp3_meta(p)
    assert m == {
        "version": "MPEG1", "layer": 3, "sample_rate": 44100,
        "channels": 2, "n_frames": 12,
        "duration_ms": 12 * 1152 * 1000 // 44100, "bitrate_kbps": 128,
    }
    # ID3v2 tag + mono MPEG2 Layer II at 22050
    p2 = encode_mp3_frames(
        7, version=2, layer=2, br_idx=4, sr_idx=0, mono=True, id3_bytes=200
    )
    m2 = parse_mp3_meta(p2)
    assert (m2["version"], m2["layer"], m2["channels"]) == ("MPEG2", 2, 1)
    assert m2["sample_rate"] == 22050 and m2["n_frames"] == 7
    # ID3v1 trailer tolerated
    m3 = parse_mp3_meta(p + b"TAG" + bytes(125))
    assert m3["n_frames"] == 12
    # truncated final frame: whole frames only
    assert parse_mp3_meta(p[:-30])["n_frames"] == 11
    # VBR: alternate two bitrates -> exact average
    a = encode_mp3_frames(3, br_idx=9)   # 128
    b = encode_mp3_frames(3, br_idx=13)  # 256
    frames = a + b
    mv = parse_mp3_meta(frames)
    assert mv["n_frames"] == 6 and mv["bitrate_kbps"] == (128 * 3 + 256 * 3) // 6
    # boundaries
    with pytest.raises(ValueError):
        parse_mp3_meta(b"not audio at all" * 10)
    with pytest.raises(ValueError):
        parse_mp3_meta(p[:3])
    # a free-format stream: every frame header has br_idx 0
    free, off = bytearray(p), 0
    while off < len(free):
        frame_len = _parse_frame_header(*free[off : off + 4])[6]
        free[off + 2] &= 0x0F
        off += frame_len
    with pytest.raises(NotImplementedError):
        parse_mp3_meta(bytes(free))


def test_mp3_free_format_lookalike_in_junk_is_skipped():
    """ADVICE r5 #1: a free-format header pattern inside the leading
    junk is a lookalike, not the stream; the sync scan keeps going and
    the valid MP3 after the junk parses as it does without the junk."""
    from win64_local_ocr_tool_spark.kernels.mp3meta import (
        _parse_frame_header,
        encode_mp3_frames,
        parse_mp3_meta,
    )

    p = encode_mp3_frames(9, version=2, layer=3, br_idx=6, sr_idx=1)
    lookalike = bytes((0xFF, 0xFB, 0x00, 0x00))
    assert _parse_frame_header(*lookalike) == "free"
    junk = b"\x00leading junk" + lookalike + b"more junk\x00"
    assert parse_mp3_meta(junk + p) == parse_mp3_meta(p)


def test_mp3_parse_never_hangs_on_corrupt(spark):
    """Byte-flip fuzz over a valid file: parse either returns metadata
    or raises the typed boundary errors — never hangs, never an
    uncontrolled exception type."""
    import random as _random

    from win64_local_ocr_tool_spark.kernels.mp3meta import (
        encode_mp3_frames,
        parse_mp3_meta,
    )

    rng = _random.Random(5)
    base = bytearray(encode_mp3_frames(6, id3_bytes=30))
    for _ in range(300):
        p = bytearray(base)
        for _f in range(rng.randint(1, 6)):
            p[rng.randrange(len(p))] = rng.randrange(256)
        try:
            m = parse_mp3_meta(bytes(p[: rng.randrange(4, len(p))]))
            assert m["n_frames"] >= 1
        except (ValueError, NotImplementedError):
            pass


def test_media_metadata_on_mp3(spark):
    """media_metadata emits populated typed audio rows for MP3 payloads
    (sample_rate, channels, duration) — not bare no_codec; the
    byte-histogram feature stand-in (which never decodes any container)
    keeps working and classifies the payload as audio."""
    from win64_local_ocr_tool_spark.kernels.mp3meta import encode_mp3_frames
    from win64_local_ocr_tool_spark.operators.multimodal import (
        media_features,
        media_metadata,
        sniff_container,
    )

    p1 = encode_mp3_frames(10, version=3, layer=3, br_idx=9, sr_idx=0)
    p2 = encode_mp3_frames(
        5, version=2, layer=3, br_idx=3, sr_idx=1, mono=True, id3_bytes=50
    )
    assert sniff_container(p1) == "mp3" and sniff_container(p2) == "mp3"
    df = spark.createDataFrame(
        [(1, p1), (2, p2)], schema="media_id long, payload binary"
    )
    meta = {r["media_id"]: r for r in media_metadata(df).collect()}
    r1 = meta[1]
    assert (r1["container"], r1["kind"], r1["status"]) == ("mp3", "audio", "ok")
    assert r1["sample_rate"] == 44100 and r1["n_channels"] == 2
    assert r1["duration_ms"] == 10 * 1152 * 1000 // 44100
    r2 = meta[2]
    assert (r2["sample_rate"], r2["n_channels"], r2["status"]) == (
        24000, 1, "ok")
    assert r2["duration_ms"] == 5 * 576 * 1000 // 24000
    feats = {r["media_id"]: r for r in media_features(df, dim=4).collect()}
    assert (feats[1]["status"], feats[1]["kind"]) == ("ok", "audio")


def test_adts_frame_walk_metadata_exact(spark):
    """AAC-ADTS metadata twin of the MP3 walk: explicit 13-bit frame
    lengths, raw-data-block sample accounting, CRC headers, and the
    boundary split (channel-config 0 -> NotImplementedError, junk ->
    ValueError). The MP3 and ADTS sniffs must be disjoint."""
    from win64_local_ocr_tool_spark.kernels.mp3meta import (
        encode_adts_frames,
        encode_mp3_frames,
        parse_adts_meta,
    )
    from win64_local_ocr_tool_spark.operators.multimodal import (
        media_metadata,
        sniff_container,
    )

    p = encode_adts_frames(10, profile=1, sfi=4, channels=2, body_bytes=300)
    m = parse_adts_meta(p)
    assert m["profile"] == "AAC-LC" and m["sample_rate"] == 44100
    assert m["channels"] == 2 and m["n_frames"] == 10
    assert m["duration_ms"] == 10 * 1024 * 1000 // 44100
    assert m["bitrate_kbps"] == 10 * 307 * 8 * 44100 // (10 * 1024 * 1000)
    # CRC variant: 9-byte headers walk correctly
    pc = encode_adts_frames(6, crc=True, sfi=8, channels=1)
    mc = parse_adts_meta(pc)
    assert (mc["n_frames"], mc["sample_rate"], mc["channels"]) == (6, 16000, 1)
    # truncated final frame: whole frames only
    assert parse_adts_meta(p[:-10])["n_frames"] == 9
    # boundaries
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        parse_adts_meta(encode_adts_frames(3, channels=0))
    with _pytest.raises(ValueError):
        parse_adts_meta(b"\x00" * 64)
    # sniffs are disjoint and both reach typed rows end-to-end
    mp3 = encode_mp3_frames(5)
    assert sniff_container(p) == "aac" and sniff_container(mp3) == "mp3"
    df = spark.createDataFrame(
        [(1, p), (2, mp3)], schema="media_id long, payload binary"
    )
    rows = {r["media_id"]: r for r in media_metadata(df).collect()}
    assert (rows[1]["container"], rows[1]["kind"], rows[1]["status"]) == (
        "aac", "audio", "ok")
    assert rows[1]["sample_rate"] == 44100 and rows[1]["duration_ms"] == m["duration_ms"]
    assert rows[2]["container"] == "mp3" and rows[2]["status"] == "ok"


def test_mp4_box_walk_metadata_exact(spark):
    """ISO-BMFF metadata walk: dims from the first video track's tkhd
    (both 16.16 fixed-point layouts, v0/v1 mvhd), duration from
    timescale math, a track census, and the boundary split (moov-less
    stream -> no_codec; junk -> error). Frame extraction stays behind
    the demuxer boundary while metadata flows."""
    from win64_local_ocr_tool_spark.kernels.mp4meta import (
        encode_mp4,
        parse_mp4_meta,
    )
    from win64_local_ocr_tool_spark.operators.multimodal import (
        media_frame_sample,
        media_metadata,
        sniff_container,
    )

    p = encode_mp4(width=1280, height=720, duration_ms=90_000)
    m = parse_mp4_meta(p)
    assert (m["width"], m["height"], m["duration_ms"]) == (1280, 720, 90_000)
    assert m["n_tracks"] == 2 and m["track_kinds"] == ["soun", "vide"]
    v1 = parse_mp4_meta(
        encode_mp4(width=96, height=54, duration_ms=777, mvhd_v1=True,
                   audio_track=False)
    )
    assert (v1["width"], v1["height"], v1["duration_ms"]) == (96, 54, 777)
    # moov-less (streaming-shaped) -> real-demuxer boundary
    import struct as _struct

    bare = _struct.pack(">I", 16) + b"ftyp" + b"isom" + bytes(4)
    bare += _struct.pack(">I", 24) + b"mdat" + bytes(16)
    with pytest.raises(NotImplementedError):
        parse_mp4_meta(bare)
    with pytest.raises(ValueError):
        parse_mp4_meta(b"\x00" * 40)
    # malformed nesting never hangs: fuzz box sizes
    import random as _random

    rng = _random.Random(9)
    for _ in range(200):
        q = bytearray(p)
        for _f in range(rng.randint(1, 5)):
            q[rng.randrange(len(q))] = rng.randrange(256)
        try:
            parse_mp4_meta(bytes(q[: rng.randrange(8, len(q))]))
        except (ValueError, NotImplementedError):
            pass

    assert sniff_container(p) == "mp4"
    df = spark.createDataFrame(
        [(1, p)], schema="media_id long, payload binary"
    )
    row = media_metadata(df).collect()[0]
    assert (row["container"], row["kind"], row["status"]) == (
        "mp4", "video", "ok")
    assert (row["width"], row["height"], row["duration_ms"]) == (
        1280, 720, 90_000)
    assert row["n_channels"] == 2  # track census in the channel slot
    fr = media_frame_sample(df).collect()[0]
    assert fr["status"] == "no_codec"  # frames = demuxer territory


def test_mp4_truncated_mvhd_is_a_typed_error():
    """Fuzz: an mvhd too short for its version's duration field, as the
    last box of the payload, raises ValueError (the typed boundary),
    never struct.error or IndexError; at exactly the needed length the
    duration parses."""
    import struct as _struct

    from win64_local_ocr_tool_spark.kernels.mp4meta import parse_mp4_meta

    def box(typ, body):
        return _struct.pack(">I", 8 + len(body)) + typ + body

    def payload(mvhd_body):
        return box(b"ftyp", b"isom" + bytes(4)) + box(
            b"moov", box(b"mvhd", mvhd_body)
        )

    for version, need, fields in ((0, 20, ">IIII"), (1, 32, ">QQIQ")):
        for n in range(need):
            body = (bytes([version]) + bytes(need))[:n]
            with pytest.raises(ValueError, match="truncated mvhd"):
                parse_mp4_meta(payload(body))
        body = bytes([version, 0, 0, 0])
        body += _struct.pack(fields, 0, 0, 1000, 2500)
        assert parse_mp4_meta(payload(body))["duration_ms"] == 2500


def test_flac_streaminfo_metadata(spark):
    """FLAC STREAMINFO walk: exact bit-field unpacking (20-bit rate,
    3-bit channels, 5-bit depth, 36-bit sample count), duration math,
    and the boundary split; media_metadata emits populated audio rows."""
    from win64_local_ocr_tool_spark.kernels.mp3meta import (
        encode_flac_streaminfo,
        parse_flac_meta,
    )
    from win64_local_ocr_tool_spark.operators.multimodal import (
        media_metadata,
        sniff_container,
    )

    p = encode_flac_streaminfo(
        sample_rate=48000, channels=2, bits_per_sample=24,
        n_samples=4_800_000,
    )
    m = parse_flac_meta(p)
    assert m == {
        "sample_rate": 48000, "channels": 2, "bits_per_sample": 24,
        "n_samples": 4_800_000, "duration_ms": 100_000,
    }
    # >32-bit sample count exercises the 36-bit field split
    big = parse_flac_meta(
        encode_flac_streaminfo(n_samples=(3 << 32) + 5, sample_rate=44100)
    )
    assert big["n_samples"] == (3 << 32) + 5
    with pytest.raises(ValueError):
        parse_flac_meta(b"fLaC" + bytes(3))  # truncated
    with pytest.raises(ValueError):
        parse_flac_meta(b"OggS" + bytes(30))  # wrong magic
    assert sniff_container(p) == "flac"
    row = media_metadata(
        spark.createDataFrame([(1, p)], "media_id long, payload binary")
    ).collect()[0]
    assert (row["container"], row["kind"], row["status"]) == (
        "flac", "audio", "ok")
    assert (row["sample_rate"], row["n_channels"], row["duration_ms"]) == (
        48000, 2, 100_000)
