"""Multimodal plumbing: Arrow batch shapes, schemas, the explode plan, and
the pure-Python PPM/BMP codec (real bytes -> real pixels, no codec libs)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture()
def media(spark):
    from peskas_timor_data_pipeline_spark.llm.multimodal import attach_binary

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.col("doc_id").alias("media_id"), "text")
        .limit(20)
    )
    return attach_binary(docs, "text", "content").withColumn(
        "meta_duration_s", (F.col("media_id") % 5).cast("double")
    )


def test_decode_unsupported_fails_loudly():
    from peskas_timor_data_pipeline_spark.llm.multimodal import decode_image

    # PNG decodes pure-Python now (tests/test_multimodal_png.py); a bare
    # signature with no chunks is corrupt, not a Pillow matter
    with pytest.raises(ValueError, match="PNG without IHDR"):
        decode_image(b"\x89PNG\r\n\x1a\n")
    # GIF still routes to the import-gated Pillow path: a clear ValueError
    # naming the optional dependency when Pillow is absent (decode works
    # outright when it is installed — tests/test_multimodal_pillow.py)
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(ValueError, match="Pillow path"):
            decode_image(b"GIF89a" + b"\x00" * 16)
    with pytest.raises(ValueError, match="unsupported image magic"):
        decode_image(b"\x00\x01\x02\x03nonsense")
    with pytest.raises(ValueError, match="truncated PPM"):
        decode_image(b"P6\n4 4\n255\n\x00\x01")


def test_ppm_p6_roundtrip_with_comments():
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decode_image,
        encode_ppm,
    )

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    d = decode_image(encode_ppm(px))
    assert (d["width"], d["height"], d["channels"]) == (3, 2, 3)
    assert np.array_equal(d["pixels"], px)
    # header comments anywhere in the netpbm grammar
    commented = b"P6\n# a comment\n3 # inline\n2\n255\n" + px.tobytes()
    assert np.array_equal(decode_image(commented)["pixels"], px)


def test_pgm_p5_and_ascii_p3():
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decode_image,
        encode_ppm,
    )

    gray = np.array([[[0], [128]], [[255], [7]]], dtype=np.uint8)
    d = decode_image(encode_ppm(gray))
    assert (d["width"], d["height"], d["channels"]) == (2, 2, 1)
    assert np.array_equal(d["pixels"], gray)
    ascii_ppm = b"P3\n2 1\n255\n1 2 3  4 5 6\n"
    d3 = decode_image(ascii_ppm)
    assert np.array_equal(
        d3["pixels"], np.array([[[1, 2, 3], [4, 5, 6]]], dtype=np.uint8)
    )


def _bmp24(px_rgb: np.ndarray, top_down: bool = False) -> bytes:
    """Hand-rolled 24-bit BI_RGB BMP with 4-byte row padding."""
    h, w, _ = px_rgb.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = b""
    rows = px_rgb if top_down else px_rgb[::-1]
    for y in range(h):
        bgr = rows[y][:, ::-1].tobytes()
        body += bgr + b"\x00" * pad
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0, len(body),
        2835, 2835, 0, 0,
    )
    head = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    return head + dib + body


def test_bmp_24bit_bottom_up_and_top_down():
    from peskas_timor_data_pipeline_spark.llm.multimodal import decode_image

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    for top_down in (False, True):
        d = decode_image(_bmp24(px, top_down=top_down))
        assert (d["width"], d["height"], d["channels"]) == (3, 2, 3)
        assert np.array_equal(d["pixels"], px), f"top_down={top_down}"


def test_bmp_rejects_compressed():
    from peskas_timor_data_pipeline_spark.llm.multimodal import decode_image

    px = np.zeros((1, 1, 3), dtype=np.uint8)
    raw = bytearray(_bmp24(px))
    struct.pack_into("<I", raw, 30, 1)  # BI_RLE8
    with pytest.raises(ValueError, match="compressed BMP"):
        decode_image(bytes(raw))


def test_wav_roundtrip_and_features():
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decode_audio,
        encode_wav,
    )

    t = np.arange(1600)
    sig = (10000 * np.sin(2 * np.pi * 440 * t / 8000)).astype("<i2")
    d = decode_audio(encode_wav(sig, sample_rate=8000))
    assert (d["sample_rate"], d["n_channels"], d["n_samples"]) == (8000, 1, 1600)
    assert abs(d["duration_s"] - 0.2) < 1e-12
    np.testing.assert_allclose(d["samples"], sig / 32768.0)
    # stereo interleave: n_samples is per-channel frames
    st = decode_audio(encode_wav(np.arange(8, dtype="<i2"), 8000, n_channels=2))
    assert st["n_channels"] == 2 and st["n_samples"] == 4
    with pytest.raises(ValueError, match="unsupported audio magic"):
        decode_audio(b"OggS....")
    # float WAV (format 3) rejected loudly
    bad = bytearray(encode_wav(sig))
    bad[20] = 3
    with pytest.raises(ValueError, match="only integer PCM"):
        decode_audio(bytes(bad))


def test_y4m_roundtrip_and_frame_sampling(spark):
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decode_video,
        encode_y4m,
        sample_video_frames,
    )

    frames = np.stack(
        [np.full((4, 6), 10 * f, dtype=np.uint8) for f in range(5)]
    )
    d = decode_video(encode_y4m(frames, fps_num=30))
    assert (d["width"], d["height"], d["n_frames"], d["fps"]) == (6, 4, 5, 30.0)
    assert np.array_equal(d["y_planes"], frames)
    with pytest.raises(ValueError, match="unsupported video magic"):
        decode_video(b"\x00\x00\x00 ftypisom")

    # one batch: a 5-frame clip gives three rows, a 2-frame clip one
    rows = [(1, bytearray(encode_y4m(frames))), (2, bytearray(encode_y4m(frames[:2])))]
    df = spark.createDataFrame(rows, "media_id long, content binary").coalesce(1)
    sampled = sample_video_frames(df, "media_id", every_n_frames=2).collect()
    assert sorted((r.media_id, r.frame_idx) for r in sampled) == [
        (1, 0), (1, 2), (1, 4), (2, 0),
    ]
    assert all(r.y_mean == 10.0 * r.frame_idx for r in sampled)


def test_decode_audio_meta_distributed(spark):
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decode_audio_meta,
        encode_wav,
    )

    rows = [
        (i, bytearray(encode_wav(np.full(100 * i, 3277, dtype="<i2"), 8000)))
        for i in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r.media_id: r for r in decode_audio_meta(df, "media_id").collect()}
    for i in range(1, 6):
        assert got[i].n_samples == 100 * i
        assert abs(got[i].rms - 3277 / 32768.0) < 1e-9


def test_decode_image_meta_distributed(spark):
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decode_image_meta,
        encode_ppm,
    )

    rows = []
    for i in range(1, 9):
        px = np.full((i, 2 * i, 3), i, dtype=np.uint8)
        rows.append((i, bytearray(encode_ppm(px))))
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r.media_id: r for r in decode_image_meta(df, "media_id").collect()}
    for i in range(1, 9):
        r = got[i]
        assert (r.width, r.height, r.channels) == (2 * i, i, 3)
        assert r.mean_pixel == float(i)


def test_resize_images_schema_and_cap(spark, media):
    from peskas_timor_data_pipeline_spark.llm.multimodal import resize_images

    out = resize_images(media, "media_id", target_w=8, target_h=4)
    assert [f.name for f in out.schema.fields] == [
        "media_id", "content", "meta_width", "meta_height",
    ]
    rows = out.collect()
    assert len(rows) == 20
    assert all(len(r.content) <= 32 for r in rows)  # 8*4 fake-resize cap
    assert all((r.meta_width, r.meta_height) == (8, 4) for r in rows)


def test_frame_sample_explodes_per_second(spark, media):
    from peskas_timor_data_pipeline_spark.llm.multimodal import frame_sample_plan

    frames = frame_sample_plan(media, "media_id", every_n_seconds=1.0)
    counts = {
        r.media_id: r.n
        for r in frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # duration d seconds -> floor(d)+1 sampled timestamps (t=0..d)
    for media_id, n in counts.items():
        assert n == (media_id % 5) + 1


def test_decode_image_meta_quarantine_mode(spark):
    """on_error='quarantine': bad payloads keep their row with nulled
    metadata and the decode error recorded; good rows decode normally; the
    default mode still raises."""
    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decode_image_meta,
        encode_ppm,
    )

    good = bytearray(encode_ppm(np.full((2, 3, 3), 7, dtype=np.uint8)))
    rows = [
        (1, good),
        (2, bytearray(b"\x89PNG\r\n\x1a\nnotreallypng")),
        (3, bytearray(b"P6\n4 4\n255\nshort")),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r.media_id: r for r in decode_image_meta(df, "media_id", on_error="quarantine").collect()}
    assert out[1].width == 3 and out[1].decode_error is None
    # PNG magic with a garbage body: the pure-Python chunk walk reads a
    # bogus chunk length and quarantines on the truncated chunk
    assert out[2].width is None and "PNG" in out[2].decode_error
    assert out[3].width is None and "truncated PPM" in out[3].decode_error
    # the same rows in ONE Arrow batch: good and bad payloads side by side
    mixed = {
        r.media_id: r
        for r in decode_image_meta(
            df.coalesce(1), "media_id", on_error="quarantine"
        ).collect()
    }
    assert mixed == out
    assert mixed[1].mean_pixel == 7.0
    assert all(
        (r.width, r.height, r.channels, r.mean_pixel) == (None,) * 4
        for r in (mixed[2], mixed[3])
    )
    with pytest.raises(Exception):
        decode_image_meta(df, "media_id").collect()  # default raises


def test_audio_silence_stats_runs_and_trims(spark):
    """Hand-built signals: leading silence, an interior run shorter than
    min_run (counted silent but not as a run), trailing silence, and an
    all-loud clip."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        audio_silence_stats,
        encode_wav,
    )

    loud, quiet = 5000, 0
    def sig(pattern):
        return np.array(
            [quiet if c == "s" else loud for c in pattern], dtype="<i2")

    rows = [
        # 6 leading silent, 4 loud, 3 silent (interior < min_run=5), 4 loud,
        # 5 trailing silent
        (1, bytearray(encode_wav(sig("ssssss" + "llll" + "sss" + "llll" + "sssss")))),
        (2, bytearray(encode_wav(sig("llllllll")))),   # no silence at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r.doc_id: r for r in audio_silence_stats(
        df, "doc_id", threshold=1000 / 32768, min_run=5).collect()}
    r1 = got[1]
    assert (r1.n_samples, r1.n_silent) == (22, 14)
    assert (r1.n_runs, r1.longest_run) == (2, 6)      # runs >=5: lead 6, trail 5
    assert (r1.lead_trim, r1.trail_trim) == (6, 5)
    r2 = got[2]
    assert (r2.n_silent, r2.n_runs, r2.lead_trim, r2.trail_trim) == (0, 0, 0, 0)


def test_resize_images_real_nn_exact_and_roundtrip(spark):
    """NN resize of a known 2x2 image to 4x4 replicates each source pixel
    into a 2x2 block (floor index map), the re-encoded PPM decodes to the
    same pixels, and the checksum matches a hand computation."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decode_image,
        encode_ppm,
        resize_images_real,
    )

    src = np.array(
        [[[10, 11, 12], [20, 21, 22]], [[30, 31, 32], [40, 41, 42]]],
        dtype=np.uint8,
    )
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(src)))], "doc_id long, content binary"
    )
    row = resize_images_real(df, "doc_id", "content", target_w=4, target_h=4).collect()[0]
    assert (row.width, row.height) == (4, 4)
    got = decode_image(bytes(row.content))["pixels"]
    expect = src[np.ix_((np.arange(4) * 2) // 4, (np.arange(4) * 2) // 4)]
    assert np.array_equal(got, expect)
    flat = expect.astype(np.int64).ravel()
    assert row.pix_checksum == int((flat * (np.arange(flat.size) + 1)).sum() % 1_000_000_007)


def test_scene_cuts_flags_only_scene_boundaries(spark):
    """Three identical frames, then a +100 jump scene of two frames:
    within-scene pairs have sad 0, the boundary pair flags a cut with the
    exact SAD."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        encode_y4m,
        scene_cuts,
    )

    a = np.full((4, 4), 50, dtype=np.uint8)
    b = np.full((4, 4), 150, dtype=np.uint8)
    clip = np.stack([a, a, a, b, b])
    df = spark.createDataFrame(
        [(9, bytearray(encode_y4m(clip)))], "doc_id long, content binary"
    )
    rows = {r.frame_idx: r for r in scene_cuts(df, "doc_id", threshold=20.0).collect()}
    assert set(rows) == {1, 2, 3, 4}
    for f in (1, 2, 4):
        assert rows[f].sad == 0 and rows[f].is_cut is False
    assert rows[3].sad == 100 * 16
    assert rows[3].mad == 100.0 and rows[3].is_cut is True

    # single-frame clips have no frame pair: zero rows, declared schema
    single = spark.createDataFrame(
        [(i, bytearray(encode_y4m(clip[:1]))) for i in (1, 2)],
        "doc_id long, content binary",
    ).coalesce(1)
    none = scene_cuts(single, "doc_id", threshold=20.0)
    assert none.collect() == []
    assert none.schema.simpleString() == (
        "struct<doc_id:bigint,frame_idx:int,sad:bigint,mad:double,is_cut:boolean>"
    )


def test_decimate_audio_round_trip_and_rms(spark):
    """Decimating a known ramp keeps exactly every 3rd sample (verified by
    decoding the re-encoded bytes) and the RMS matches numpy; stereo
    input raises."""
    import numpy as np
    import pytest

    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        decimate_audio,
        decode_audio,
        encode_wav,
    )

    samples = (np.arange(10) * 1000 - 4000).astype("<i2")
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(samples, sample_rate=9000)))],
        "doc_id long, content binary",
    )
    row = decimate_audio(df, "doc_id", factor=3).collect()[0]
    assert (row.n_in, row.n_out, row.out_rate) == (10, 4, 3000)
    d = decode_audio(bytes(row.content))
    kept = samples[::3].astype(np.float64) / 32768.0
    assert np.allclose(d["samples"], kept)
    assert abs(row.rms_out - float(np.sqrt((kept * kept).mean()))) < 1e-12

    stereo = spark.createDataFrame(
        [(2, bytearray(encode_wav(samples, sample_rate=9000, n_channels=2)))],
        "doc_id long, content binary",
    )
    with pytest.raises(Exception, match="mono"):
        decimate_audio(stereo, "doc_id", factor=3).collect()


def test_image_channel_sums_exact_partials(spark):
    """Channel sums recovered from real PPM bytes equal the hand-computed
    integers; grayscale PGM emits channel 0 only; partials merge by plain
    addition (the shard-rollup property)."""
    import numpy as np

    from peskas_timor_data_pipeline_spark.llm.multimodal import (
        encode_ppm,
        image_channel_sums,
    )

    rgb = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    gray = np.array([[7, 9], [11, 13]], dtype=np.uint8)[:, :, None]
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(rgb))), (2, bytearray(encode_ppm(gray)))],
        "doc_id long, content binary",
    )
    got = {(r.doc_id, r.channel): r for r in image_channel_sums(df, "doc_id").collect()}
    for c in range(3):
        ch = rgb[:, :, c].astype(int)
        r = got[(1, c)]
        assert (r.n_pixels, r.px_sum, r.px_sumsq) == (6, ch.sum(), (ch**2).sum())
    assert set(k for k in got if k[0] == 2) == {(2, 0)}
    g = got[(2, 0)]
    assert (g.n_pixels, g.px_sum, g.px_sumsq) == (4, 40, 420)
