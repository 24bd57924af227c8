"""Multimodal plumbing: schemas, dispatch, error isolation, feature
shapes — real Spark-side behavior around the stubbed codecs."""

from pyspark.sql import functions as F

from win64_local_ocr_tool_spark.operators.multimodal import (
    media_features,
    media_metadata,
    render_saud,
    render_simg,
    sniff_container,
    synthetic_media_df,
)


def test_sniffers():
    assert sniff_container(render_simg(64, 48, 3, 1)) == "simg"
    assert sniff_container(render_saud(8000, 100, 1)) == "saud"
    assert sniff_container(b"\x89PNG\r\n\x1a\nxxxx") == "png"
    assert sniff_container(b"\xff\xd8\xffxxx") == "jpeg"
    assert sniff_container(b"RIFF....WAVEfmt") == "wav"
    assert sniff_container(b"RIFF....WEBPVP8 ") == "webp"
    assert sniff_container(b"RIFF....AVI LIST") == "unknown"
    assert sniff_container(b"junk") == "unknown"


def test_media_metadata(spark):
    media = synthetic_media_df(spark, 100)
    meta = media_metadata(media).toPandas().set_index("media_id")
    assert len(meta) == 100
    # image rows carry dimensions
    img = meta[meta["kind"] == "image"]
    assert (img["status"] == "ok").all()
    # fixture mix spans PNG/JPEG/GIF/BMP/simg: smallest render is the
    # 32px GIF; channels cover gray(1)/RGB(3)/RGBA(4)
    assert (img["width"] >= 32).all()
    assert (img["n_channels"].isin([1, 3, 4])).all()
    # audio rows carry sample rate
    aud = meta[meta["kind"] == "audio"]
    assert (aud["sample_rate"] >= 8000).all()
    # garbage rows are error rows, not crashes
    bad = meta[meta["status"] == "error"]
    assert len(bad) > 0 and (bad["kind"] == "unknown").all()


def test_media_metadata_no_codec_status(spark):
    """Profiles without a decoder (arithmetic-coded JPEG) surface
    status=no_codec — the codec boundary is explicit, not a silent
    wrong answer; malformed payloads are error rows, never task
    failures; baseline AND progressive JPEG decode for real."""
    import numpy as np

    from win64_local_ocr_tool_spark.kernels.jpegcodec import (
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from win64_local_ocr_tool_spark.operators.multimodal import render_jpeg

    baseline = encode_jpeg(np.full((16, 24, 3), 90, np.uint8))
    arith = bytearray(baseline)
    i = arith.find(b"\xff\xc0")
    arith[i + 1] = 0xC9  # SOF0 -> SOF9 (arithmetic sequential)
    progressive = encode_jpeg_progressive(np.full((16, 24, 3), 90, np.uint8))
    df = spark.createDataFrame(
        [
            (1, bytes(arith)),                             # needs real codec
            (2, b"\x89PNG\r\n\x1a\n" + b"\x00" * 64),      # malformed png
            (3, b"\xff\xd8\xff" + b"\x00" * 64),           # malformed jpeg
            (4, render_jpeg(32, 16, 3, seed=7)),           # baseline: real
            (5, progressive),                              # SOF2: real too
        ],
        schema="media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in media_metadata(df).collect()}
    assert rows[1]["container"] == "jpeg"
    assert rows[1]["status"] == "no_codec"
    assert rows[2]["container"] == "png"
    assert rows[2]["status"] == "error"
    assert rows[3]["status"] == "error"
    assert (rows[4]["status"], rows[4]["kind"]) == ("ok", "image")
    assert (rows[4]["width"], rows[4]["height"], rows[4]["n_channels"]) \
        == (32, 16, 3)
    assert (rows[5]["status"], rows[5]["container"]) == ("ok", "jpeg")
    assert (rows[5]["width"], rows[5]["height"]) == (24, 16)


def test_webp_is_a_typed_no_codec_image(spark):
    """WebP sniffs as an image container without a codec: the decoding
    operators give typed no_codec image rows, never 'unknown'/error."""
    from win64_local_ocr_tool_spark.operators.multimodal import media_resize

    webp = b"RIFF\x1a\x00\x00\x00WEBPVP8L\x0e\x00\x00\x00/\x00\x00\x00"
    df = spark.createDataFrame([(1, webp)], "media_id long, payload binary")
    meta = media_metadata(df).collect()[0]
    assert (meta["container"], meta["kind"], meta["status"]) == (
        "webp", "image", "no_codec"
    )
    assert meta["n_bytes"] == len(webp)
    assert media_resize(df, 8, 8).collect()[0]["status"] == "no_codec"
    feat = media_features(df).collect()[0]
    assert (feat["kind"], feat["status"]) == ("image", "ok")


def test_media_features_kind_matches_metadata(spark):
    """Video containers (mp4, svid) give video feature rows, the kind
    media_metadata gives them, not audio."""
    from win64_local_ocr_tool_spark.kernels.mp4meta import encode_mp4
    from win64_local_ocr_tool_spark.operators.multimodal import render_svid

    payloads = [
        encode_mp4(width=96, height=54, duration_ms=777),
        render_svid(16, 8, 3, 1),
        render_saud(8000, 100, 1),
        render_simg(8, 8, 3, 1),
    ]
    df = spark.createDataFrame(
        list(enumerate(payloads)), "media_id long, payload binary"
    )
    feats = {r["media_id"]: r["kind"] for r in media_features(df).collect()}
    meta = {r["media_id"]: r["kind"] for r in media_metadata(df).collect()}
    assert feats == meta == {0: "video", 1: "video", 2: "audio", 3: "image"}


def test_media_features_deterministic_across_partitioning(spark):
    a = media_features(synthetic_media_df(spark, 60)).toPandas()
    b = media_features(
        synthetic_media_df(spark, 60).repartition(13)
    ).toPandas()
    a = a.sort_values("media_id").reset_index(drop=True)
    b = b.sort_values("media_id").reset_index(drop=True)
    assert (a["status"].values == b["status"].values).all()
    for x, y in zip(a["feat"], b["feat"]):
        assert (x is None) == (y is None)
        if x is not None:
            assert list(x) == list(y)


def test_media_features_shape(spark):
    feats = media_features(synthetic_media_df(spark, 50), dim=8)
    ok = feats.filter(F.col("status") == "ok")
    sizes = ok.select(F.size("feat").alias("d")).distinct().collect()
    assert [r["d"] for r in sizes] == [8]


def test_media_resize_dims_and_determinism(spark):
    from win64_local_ocr_tool_spark.operators.multimodal import (
        media_resize,
        synthetic_media_df,
        sniff_container,
        _parse_simg_header,
    )

    from win64_local_ocr_tool_spark.kernels.pngcodec import decode_png

    out = media_resize(synthetic_media_df(spark, 60), 32, 24).toPandas()
    ok = out[out["status"] == "ok"]
    assert len(ok) > 0
    containers = set()
    for p in ok["payload"]:
        cont = sniff_container(bytes(p))
        containers.add(cont)
        if cont == "simg":
            w, h, _c = _parse_simg_header(bytes(p))
        elif cont == "jpeg":
            from win64_local_ocr_tool_spark.kernels.jpegcodec import (
                decode_jpeg,
            )

            img = decode_jpeg(bytes(p))
            h, w = img.shape[:2]
        elif cont == "gif":
            from win64_local_ocr_tool_spark.kernels.gifcodec import (
                decode_gif,
            )

            img = decode_gif(bytes(p))
            h, w = img.shape[:2]
        elif cont == "bmp":
            from win64_local_ocr_tool_spark.kernels.bmpcodec import (
                decode_bmp,
            )

            img = decode_bmp(bytes(p))
            h, w = img.shape[:2]
        else:
            img = decode_png(bytes(p))
            h, w = img.shape[:2]
        assert (w, h) == (32, 24)
    # the fixture mixes every real container in — all emit paths appear
    assert containers == {"simg", "png", "jpeg", "gif", "bmp"}
    # audio + garbage rows -> error, never crash
    assert set(out["status"]) <= {"ok", "error", "no_codec"}
    again = media_resize(synthetic_media_df(spark, 60), 32, 24).toPandas()
    a = out.sort_values("media_id").reset_index(drop=True)
    b = again.sort_values("media_id").reset_index(drop=True)
    assert list(a["payload"].map(lambda x: None if x is None else bytes(x))) \
        == list(b["payload"].map(lambda x: None if x is None else bytes(x)))


def test_media_frame_sample_udtf_shape(spark):
    from win64_local_ocr_tool_spark.operators.multimodal import (
        _parse_svid_header,
        media_frame_sample,
        sniff_container,
        synthetic_video_df,
    )

    vids = synthetic_video_df(spark, 40)
    frames = media_frame_sample(vids, every_k=2).toPandas()
    ok = frames[frames["status"] == "ok"]
    # every sampled frame is a standalone image payload
    for p in ok["frame"]:
        assert bytes(p)[:5] == b"%SIMG"
    # frame count per video == ceil(n_frames / 2), checked via headers
    pdf = vids.toPandas()
    for _, r in pdf.iterrows():
        payload = bytes(r["payload"])
        got = len(ok[ok["media_id"] == r["media_id"]])
        if sniff_container(payload) != "svid":
            assert got == 0
        else:
            _w, _h, nf = _parse_svid_header(payload)
            assert got == -(-nf // 2)
    # frames chain into the image operators (resize of a sampled frame)
    from win64_local_ocr_tool_spark.operators.multimodal import media_resize

    frame_imgs = media_frame_sample(vids, every_k=4).filter(
        "status = 'ok'"
    ).selectExpr("media_id", "frame AS payload")
    resized = media_resize(frame_imgs, 16, 12).toPandas()
    assert (resized["status"] == "ok").all()


def test_malformed_magic_payloads_yield_error_rows(spark):
    """Truncated/inconsistent payloads that PASS the magic sniff must
    produce error rows, never task failures (failure isolation)."""
    import pandas as pd
    import struct as _struct
    from win64_local_ocr_tool_spark.operators.multimodal import (
        media_frame_sample,
        media_metadata,
        media_resize,
    )

    bad = [
        b"%SIMG",                                         # truncated header
        b"%SIMG" + _struct.pack("<HHBI", 1, 1, 1, 7) + b"0123456789",
        b"%SVID",                                         # truncated header
        b"%SVID" + b"\x01",
        b"%SAUD",                                         # truncated header
    ]
    pdf = pd.DataFrame(
        {"media_id": range(len(bad)), "payload": bad}
    )
    media = spark.createDataFrame(pdf, schema="media_id long, payload binary")
    m = media_metadata(media).toPandas()
    assert set(m["status"]) <= {"error", "ok"}
    r = media_resize(media, 8, 8).toPandas()
    assert len(r) == len(bad)
    assert (r[r["media_id"].isin([0, 2, 3, 4])]["status"] == "error").all()
    f = media_frame_sample(media).toPandas()
    assert (f["status"] == "error").all()
