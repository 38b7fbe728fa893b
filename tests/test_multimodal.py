"""Multimodal kernels on REAL bytes: Arrow mapInPandas decode of genuine
BMP/PNG/PPM/WAV payloads, strict-mode contract, resize payload
verification (output bytes decode to the resized image), frame-sample
explode."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_excel_csv_sql_spark.io.jdbc import JdbcQuerySource
from etl_excel_csv_sql_spark.operators import codecs, multimodal


@pytest.fixture()
def media(spark):
    """Three rows: a real PNG, a real JPEG header, and a null payload."""
    arr = np.arange(6 * 9 * 3, dtype=np.uint8).reshape(6, 9, 3)
    png = codecs.encode_png(arr)
    import struct

    sof = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 33, 44) + b"\x03"
    jpg = b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF" + sof + b"\xff\xd9"
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(jpg)), (3, None)], ["doc_id", "blob"]
    )
    return multimodal.to_media_column(df, "doc_id", "blob", "image")


def test_media_column_shape(media):
    rows = {r.media_id: r for r in media.collect()}
    assert rows[1].magic == "89504E47"  # PNG magic, hex
    assert rows[2].magic == "FFD8FFE0"  # JPEG/JFIF
    assert rows[3].payload is None and rows[3].byte_len is None


def test_extract_image_meta_real_decoder(media):
    out = multimodal.extract_image_meta(media)
    assert out.schema == multimodal.MEDIA_META_SCHEMA
    rows = {r.media_id: r for r in out.collect()}
    # real header parses: PNG IHDR and JPEG SOF dims
    assert (rows[1].fmt, rows[1].width, rows[1].height) == ("png", 9, 6)
    assert (rows[2].fmt, rows[2].width, rows[2].height) == ("jpeg", 44, 33)
    # null payload → null fmt/dims in lax mode
    assert rows[3].fmt is None and rows[3].width is None


def test_strict_mode_raises_on_undecodable(spark):
    df = spark.createDataFrame([(1, bytearray(b"not an image"))], ["doc_id", "blob"])
    media = multimodal.to_media_column(df, "doc_id", "blob")
    with pytest.raises(Exception, match="undecodable"):
        multimodal.extract_image_meta(media, strict=True).collect()


def test_strict_meta_extract_raises_on_null_payload(media):
    # the shared metadata template answers a null payload the way every
    # hand-rolled kernel does: null fields when lax, an error when strict
    null_only = media.where("media_id = 3")
    (lax,) = multimodal.extract_mp3_meta(null_only).collect()
    assert lax.duration_ms is None
    with pytest.raises(Exception, match="null payload in strict"):
        multimodal.extract_mp3_meta(null_only, strict=True).collect()


def test_frame_sample_plan_explodes_by_duration(media):
    plan = multimodal.frame_sample_plan(media.filter(F.col("payload").isNotNull()))
    rows = plan.groupBy("media_id").count().collect()
    assert {r.media_id: r["count"] for r in rows} == {1: 1, 2: 1}  # tiny payloads → 1 frame
    assert plan.columns == ["media_id", "frame_idx", "sample_ts_s"]


def test_jdbc_query_source_in_list_splice():
    # S5/F7: the reference's IN-list template splice with quote escaping
    src = JdbcQuerySource(
        url="jdbc:sqlserver://host;databaseName=db",
        query="SELECT invnum FROM pods WHERE invnum IN (INVOICE_NUMBERS)",
    )
    spliced = src.with_in_list("INVOICE_NUMBERS", ["A-1", "B'2"])
    assert spliced.query == (
        "SELECT invnum FROM pods WHERE invnum IN ('A-1','B''2')"
    )
    # original untouched (immutable splice)
    assert "INVOICE_NUMBERS" in src.query


def test_resize_images_real_payload(spark):
    """The output payload is a genuinely resized image: decoding it yields
    dst dims and the exact nearest-neighbor pixels of the source."""
    arr = np.arange(40 * 64 * 3, dtype=np.uint8).reshape(40, 64, 3) % 256
    df = spark.createDataFrame(
        [(1, bytearray(codecs.encode_bmp(arr))), (2, bytearray(codecs.encode_png(arr)))],
        ["doc_id", "img"],
    )
    media = multimodal.to_media_column(df, "doc_id", "img")
    out = {r.media_id: r for r in multimodal.resize_images(media, max_side=16, strict=True).collect()}
    expected = codecs.resize_nearest(arr, 16, 10)  # 64x40 → long side 16
    for mid, fmt in ((1, "bmp"), (2, "png")):
        r = out[mid]
        assert (r.src_width, r.src_height) == (64, 40)
        assert (r.dst_width, r.dst_height) == (16, 10)
        got_fmt, dec = codecs.decode_image(bytes(r.payload))
        assert got_fmt == fmt  # re-encoded in the source format
        assert np.array_equal(dec, expected)


def test_resize_small_image_passes_through(spark):
    arr = np.zeros((8, 12, 3), np.uint8)
    df = spark.createDataFrame([(5, bytearray(codecs.encode_ppm(arr)))], ["doc_id", "img"])
    media = multimodal.to_media_column(df, "doc_id", "img")
    r = multimodal.resize_images(media, max_side=32, strict=True).collect()[0]
    assert (r.dst_width, r.dst_height) == (12, 8)  # within bound → unchanged
    assert np.array_equal(codecs.decode_image(bytes(r.payload))[1], arr)


def test_resize_strict_rejects_headeronly_format(spark):
    # header-only JPEG (no SOS) — baseline decode now exists, so the
    # failure is "no scan", not "no decoder"; the contract (strict
    # raises / lax nulls) is unchanged
    jpg = codecs.encode_jpeg_header_only(44, 33)
    df = spark.createDataFrame([(1, bytearray(jpg))], ["doc_id", "img"])
    media = multimodal.to_media_column(df, "doc_id", "img")
    with pytest.raises(Exception, match="no SOS scan"):
        multimodal.resize_images(media, strict=True).collect()
    # lax mode: nulls instead
    r = multimodal.resize_images(media).collect()[0]
    assert r.payload is None and r.dst_width is None


def test_resize_jpeg_real_payload(spark):
    """Baseline JPEG payloads now resize end-to-end: decode → resample →
    re-encode as JPEG (lossy, so compare against the independently
    computed expectation with a quantization tolerance)."""
    rng = np.random.default_rng(11)
    arr = np.repeat(
        np.repeat(rng.integers(0, 256, (5, 8, 3), dtype=np.uint8), 8, axis=0),
        8, axis=1,
    )  # 40x64, flat 8x8 blocks → JPEG-stable
    jpg = codecs.encode_jpeg_baseline(arr, quality=95)
    df = spark.createDataFrame([(1, bytearray(jpg))], ["doc_id", "img"])
    media = multimodal.to_media_column(df, "doc_id", "img")
    r = multimodal.resize_images(media, max_side=16, strict=True).collect()[0]
    assert (r.src_width, r.src_height) == (64, 40)
    assert (r.dst_width, r.dst_height) == (16, 10)
    got_fmt, dec = codecs.decode_image(bytes(r.payload))
    assert got_fmt == "jpeg"
    expected = codecs.resize_nearest(codecs.decode_jpeg(jpg), 16, 10)
    err = np.abs(dec.astype(int) - expected.astype(int))
    # the resample destroys the flat-block structure, so the re-encode
    # hop is genuinely lossy; a broken decoder scores mean ~60+ here
    assert err.max() <= 48 and err.mean() < 8.0


def test_extract_audio_meta_real_wav(spark):
    pcm = (np.arange(2000) % 251 - 125).astype(np.int16)
    wav = codecs.encode_wav(pcm.reshape(1000, 2), 16000, 2)
    df = spark.createDataFrame(
        [(7, bytearray(wav)), (8, bytearray(b"not audio")), (9, None)],
        ["doc_id", "clip"],
    )
    media = multimodal.to_media_column(df, "doc_id", "clip", media_type="audio")
    rows = {r.media_id: r for r in multimodal.extract_audio_meta(media).collect()}
    r = rows[7]
    assert (r.sample_rate, r.n_channels, r.bits_per_sample) == (16000, 2, 16)
    assert r.n_frames == 1000 and r.duration_ms == 1000 * 1000 // 16000
    assert rows[8].sample_rate is None and rows[9].sample_rate is None
    with pytest.raises(Exception, match="RIFF-WAVE|strict"):
        multimodal.extract_audio_meta(media, strict=True).collect()


def test_synth_payloads_follow_id_contract(spark):
    """The synthetic generators honor the id → dims/params contracts the
    SQL oracles mirror — and emit genuinely decodable files."""
    df = spark.range(0, 9).withColumnRenamed("id", "doc_id")
    imgs = {r.media_id: r for r in multimodal.synth_image_payloads(df).collect()}
    for mid, r in imgs.items():
        fmt, w, h = multimodal.synth_image_dims(mid)
        got_fmt, dec = codecs.decode_image(bytes(r.payload))
        assert got_fmt == fmt and dec.shape == (h, w, 3)
    clips = {r.media_id: r for r in multimodal.synth_audio_payloads(df).collect()}
    for mid, r in clips.items():
        rate, ch, frames = multimodal.synth_audio_params(mid)
        assert codecs.wav_meta(bytes(r.payload)) == (rate, ch, 16, frames)


def test_extract_video_meta_real_avi(spark):
    from etl_excel_csv_sql_spark.operators import multimodal

    ids = spark.range(0, 40).selectExpr("id AS doc_id")
    clips = multimodal.synth_video_payloads(ids)
    media = multimodal.to_media_column(clips, "media_id", "payload", "video")
    meta = multimodal.extract_video_meta(media, strict=True)
    rows = {r.media_id: r for r in meta.collect()}
    assert len(rows) == 40
    for mid, r in rows.items():
        w, h, fps, frames = multimodal.synth_video_params(mid)
        assert (r.width, r.height, r.fps, r.n_frames) == (w, h, fps, frames)
        assert r.duration_ms == frames * 1000 // fps


def test_extract_video_meta_lenient_nulls_on_non_avi(spark):
    from etl_excel_csv_sql_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, bytearray(b"not an avi at all")), (2, None)],
        "media_id: long, payload: binary",
    ).selectExpr("media_id", "payload", "length(payload) AS byte_len")
    out = multimodal.extract_video_meta(df, strict=False).collect()
    assert len(out) == 2
    assert all(r.width is None and r.fps is None for r in out)


# ---------------------------------------------------------------------------
# perceptual average-hash near-dup (r6 batch 3)
# ---------------------------------------------------------------------------

def test_ahash_twins_within_hamming_ball(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.operators import dedup, multimodal

    # % 16 (not % 20): ids 0,16,32,48,64,... hit every residue mod 5, so
    # the twin battery exercises ALL FIVE encode formats (bmp/png/ppm/
    # gif/tiff) — % 20 ids were always bmp, which masked a GIF-palette
    # crash in perturbed_image_payloads (clip vs wrap, ADVICE r11).
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 16 == 0
    )
    n_docs = docs.count()
    originals = multimodal.synth_image_payloads(docs)
    twins = multimodal.perturbed_image_payloads(docs)
    hashes = multimodal.ahash_images(originals.unionByName(twins)).select(
        F.col("media_id").alias("id"), F.col("ahash").alias("simhash")
    )
    assert hashes.where(F.col("simhash").isNull()).count() == 0
    pairs = dedup.hamming_pairs(hashes, max_hamming=2)
    twin_pairs = pairs.where(
        F.col("id_b") - F.col("id_a") == 1_000_000
    ).count()
    # every original must be paired with its perturbed twin
    assert twin_pairs == n_docs


def test_ahash_identical_images_hash_equal(spark):
    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.operators import multimodal

    base = spark.createDataFrame([(7,), (7,)], "doc_id long")
    payloads = multimodal.synth_image_payloads(base)
    got = multimodal.ahash_images(payloads).collect()
    assert got[0]["ahash"] == got[1]["ahash"]


def test_ahash_distinguishes_inverted_pattern():
    import numpy as np

    from etl_excel_csv_sql_spark.operators.multimodal import _ahash_bits

    grad = np.tile(np.arange(64, dtype=np.float64), (64, 1))
    inv = grad[:, ::-1]
    a, b = _ahash_bits(grad), _ahash_bits(inv)
    ham = bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham >= 32  # opposite layouts disagree on ~every cell


def test_ahash_undecodable_payloads(spark):
    import pytest as _pytest

    from etl_excel_csv_sql_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, bytearray(b"not an image"))], "media_id long, payload binary"
    )
    got = multimodal.ahash_images(df).collect()
    assert got[0]["ahash"] is None
    with _pytest.raises(Exception):
        multimodal.ahash_images(df, strict=True).collect()


def test_extract_exif_meta_contract_and_nulls(spark):
    from etl_excel_csv_sql_spark.operators import codecs, multimodal

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    jpegs = multimodal.synth_exif_jpeg_payloads(docs)
    media = multimodal.to_media_column(jpegs, "media_id", "payload", "image")
    got = {r.media_id: r for r in multimodal.extract_exif_meta(media).collect()}
    for mid in (0, 1, 7, 39):  # both byte orders (even=II, odd=MM)
        o, mk, md, dt, w, h = multimodal.synth_exif_params(mid)
        r = got[mid]
        assert (r.orientation, r.make, r.model, r.taken_at) == (o, mk, md, dt)
        assert (r.width, r.height, r.exif_width, r.exif_height) == (w, h, w, h)

    # non-strict: EXIF-less and undecodable payloads yield null fields
    plain = codecs.encode_jpeg_header_only(32, 16)
    mixed = spark.createDataFrame(
        [(1, bytearray(plain)), (2, bytearray(b"garbage")), (3, None)],
        "media_id long, payload binary",
    )
    media2 = multimodal.to_media_column(mixed, "media_id", "payload", "image")
    rows = {r.media_id: r for r in multimodal.extract_exif_meta(media2).collect()}
    assert rows[1].orientation is None  # JPEG without EXIF → null fields
    assert rows[2].width is None and rows[3].width is None


def test_extract_exif_meta_truncated_app1_degrades_to_null(spark):
    """ADVICE r6: a truncated APP1/TIFF IFD used to raise struct.error
    (not ValueError), failing the whole batch under strict=False. The
    codecs layer now normalizes struct.error/IndexError/zlib.error to
    ValueError, so corrupt payloads degrade to null rows."""
    from etl_excel_csv_sql_spark.operators import codecs, multimodal

    import struct

    docs = spark.range(0, 2).withColumnRenamed("id", "doc_id")
    intact = multimodal.synth_exif_jpeg_payloads(docs)
    full = bytes(intact.select("payload").first()["payload"])
    # valid SOF (jpeg_meta succeeds) but the APP1 TIFF IFD is truncated:
    # the IFD entry count says 5 entries yet the buffer ends after the
    # count — the exact struct.error reproduction from ADVICE
    bad_tiff = b"Exif\x00\x00" + b"II*\x00\x08\x00\x00\x00\x05\x00"
    plain = codecs.encode_jpeg_header_only(32, 16)
    corrupt = (
        plain[:2]
        + b"\xff\xe1"
        + struct.pack(">H", len(bad_tiff) + 2)
        + bad_tiff
        + plain[2:]
    )
    mixed = spark.createDataFrame(
        [(1, bytearray(full)), (2, bytearray(corrupt))],
        "media_id long, payload binary",
    )
    media = multimodal.to_media_column(mixed, "media_id", "payload", "image")
    rows = {
        r.media_id: r for r in multimodal.extract_exif_meta(media).collect()
    }
    assert rows[1].orientation is not None
    # corrupt TIFF degrades to null EXIF fields; jpeg dims still parse
    assert rows[2].orientation is None and rows[2].make is None
    # and the raw codec surfaces it as ValueError, not struct.error
    import pytest as _pytest

    with _pytest.raises(ValueError):
        codecs.exif_meta(corrupt)


# ----------------------------------------------------------------- pHash


def test_phash_identities_and_shift_invariance(spark):
    """Structural pHash invariants: a constant image hashes to exactly
    0 (all AC coefficients zero, DC bit forced 0); a uniform brightness
    shift leaves the hash untouched (it only moves the excluded DC
    term). Measurement note, recorded honestly: on these SYNTHETIC
    noise images the aHash-vs-pHash robustness gap the natural-image
    literature reports (contrast/gamma) does NOT reproduce — synthetic
    noise has no low-frequency structure for the DCT to anchor on, so
    both fingerprints ship and the choice is the caller's."""
    import numpy as np

    from etl_excel_csv_sql_spark.operators.multimodal import (
        _phash_bits,
        _synth_pixels,
    )

    const = np.full((32, 48), 137.0)
    assert _phash_bits(const) == 0
    for mid in (0, 20, 40, 60):
        px = _synth_pixels(mid, 48, 32).astype(np.float64)
        gray = px.mean(axis=2) if px.ndim == 3 else px
        shifted = gray + 20.0  # no clipping: pure DC move
        assert _phash_bits(gray) == _phash_bits(shifted)


def test_phash_neardup_full_recall_on_noise_twins(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.operators import dedup, multimodal

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 50 == 0
    )
    originals = multimodal.synth_image_payloads(docs)
    twins = multimodal.perturbed_image_payloads(docs)
    corpus = originals.unionByName(twins)
    hashes = multimodal.phash_images(corpus).select(
        F.col("media_id").alias("id"), F.col("phash").alias("simhash")
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.hamming_pairs(hashes, max_hamming=2).collect()
    }
    want = {
        (r["doc_id"], r["doc_id"] + 1_000_000) for r in docs.collect()
    }
    assert want <= pairs  # every twin recovered


def test_phash_deterministic_across_runs(spark, sf_dir):
    from etl_excel_csv_sql_spark.catalog import load_table
    from etl_excel_csv_sql_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 100 == 0
    )
    imgs = multimodal.synth_image_payloads(docs)
    h1 = {r["media_id"]: r["phash"] for r in multimodal.phash_images(imgs).collect()}
    h2 = {r["media_id"]: r["phash"] for r in multimodal.phash_images(imgs).collect()}
    assert h1 == h2 and all(v is not None for v in h1.values())


# ---------------------------------------------------------------------------
# per-frame video demux + frame-level near-dup (VERDICT r9 #5)
# ---------------------------------------------------------------------------

def test_extract_video_frames_mjpeg_goldens(spark):
    from etl_excel_csv_sql_spark.operators import multimodal

    ids = spark.range(0, 25).selectExpr("id AS doc_id")
    clips = multimodal.synth_mjpeg_payloads(ids)
    frames = multimodal.extract_video_frames(clips, strict=True)
    rows = [(r.media_id, r.frame_idx, r.kind, r.frame_width, r.frame_height)
            for r in frames.collect()]
    expected = []
    for mid in range(25):
        _, _, _, n = multimodal.synth_mjpeg_params(mid)
        for f in range(n):
            w, h = multimodal.synth_mjpeg_frame_dims(mid, f)
            expected.append((mid, f, "dc", w, h))
    assert sorted(rows) == sorted(expected)


def test_extract_video_frames_dib_and_lenient(spark):
    from etl_excel_csv_sql_spark.operators import multimodal

    ids = spark.range(3, 7).selectExpr("id AS doc_id")
    clips = multimodal.synth_dib_video_payloads(ids)
    out = multimodal.extract_video_frames(clips, strict=True).collect()
    for r in out:
        w, h, _, n = multimodal.synth_dib_video_params(r.media_id)
        assert r.kind == "db"
        assert (r.frame_width, r.frame_height) == (w, h)
        assert r.frame_bytes == ((3 * w + 3) // 4 * 4) * h
        assert 0 <= r.frame_idx < n
    # lenient mode: non-AVI payloads yield ZERO rows (an exploding
    # kernel must not fabricate a frame count), strict raises
    import pytest as _pt

    bad = spark.createDataFrame(
        [(1, bytearray(b"junk")), (2, None)], "media_id: long, payload: binary"
    )
    assert multimodal.extract_video_frames(bad, strict=False).count() == 0
    with _pt.raises(Exception):
        multimodal.extract_video_frames(bad, strict=True).count()


def test_video_frame_ahash_twin_clips_match_framewise(spark):
    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.operators import dedup, multimodal

    ids = spark.range(0, 12).selectExpr("id AS doc_id")
    originals = multimodal.synth_dib_video_payloads(ids)
    twins = multimodal.synth_dib_video_payloads(
        ids, id_offset=1_000_000, perturb=True
    )
    hashes = multimodal.video_frame_ahash(originals.unionByName(twins))
    assert hashes.where(F.col("ahash").isNull()).count() == 0
    frame_ids = hashes.select(
        (F.col("media_id") * 100 + F.col("frame_idx")).alias("id"),
        F.col("ahash").alias("simhash"),
    )
    pairs = dedup.hamming_pairs(frame_ids, max_hamming=2)
    # every (video, frame) must pair with its perturbed twin frame
    twin_frame_pairs = pairs.where(
        F.col("id_b") - F.col("id_a") == 100_000_000
    ).count()
    expected = sum(
        multimodal.synth_dib_video_params(mid)[3] for mid in range(12)
    )
    assert twin_frame_pairs == expected
    # MJPEG payloads have no pixel decode: lenient skips, strict raises
    import pytest as _pt

    mj = multimodal.synth_mjpeg_payloads(
        spark.range(0, 2).selectExpr("id AS doc_id")
    )
    assert multimodal.video_frame_ahash(mj, strict=False).count() == 0
    with _pt.raises(Exception):
        multimodal.video_frame_ahash(mj, strict=True).count()


def test_audio_fingerprint_twin_clips_match_framewise(spark):
    """Haitsma-Kalker spectral fingerprints over REAL decoded PCM: every
    chirped synth clip's noise-perturbed twin must match frame-for-frame
    within the Hamming ball, and no distinct-clip pair may match on ALL
    frames (clip-level false positive)."""
    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.operators import dedup, multimodal

    ids = spark.range(0, 200, 10).selectExpr("id AS doc_id")  # 20 clips
    originals = multimodal.synth_audio_fp_payloads(ids)
    twins = multimodal.synth_audio_fp_payloads(
        ids, id_offset=1_000_000, perturb=True
    )
    fps = multimodal.audio_fingerprints(originals.unionByName(twins))
    assert fps.where(F.col("fp").isNull()).count() == 0
    n_frames = {r.media_id: r.n for r in fps.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert all(n >= 2 for n in n_frames.values())
    frame_ids = fps.select(
        (F.col("media_id") * 100 + F.col("frame_idx")).alias("id"),
        F.col("fp").alias("simhash"),
    )
    pairs = dedup.hamming_pairs(frame_ids, max_hamming=3).collect()
    # every (clip, frame) pairs with its twin frame
    twin_pairs = {
        (r.id_a, r.id_b) for r in pairs if r.id_b - r.id_a == 100_000_000
    }
    expected = {
        (mid * 100 + f, (mid + 1_000_000) * 100 + f)
        for mid in range(0, 200, 10)
        for f in range(n_frames[mid])
    }
    assert expected <= twin_pairs
    # clip-level false positives: group non-twin frame pairs by clip
    # pair; none may cover every frame of a clip
    from collections import defaultdict

    per_clip = defaultdict(set)
    for r in pairs:
        ca, fa = divmod(r.id_a, 100)
        cb, fb = divmod(r.id_b, 100)
        if fa == fb and cb - ca != 1_000_000 and ca != cb:
            per_clip[(ca, cb)].add(fa)
    false_clips = [
        k for k, fs in per_clip.items()
        if len(fs) >= n_frames[k[0] % 1_000_000]
    ]
    assert not false_clips, false_clips


def test_audio_fingerprint_lenient_and_strict(spark):
    import pytest as _pt

    from etl_excel_csv_sql_spark.operators import multimodal

    bad = spark.createDataFrame(
        [(1, bytearray(b"not a wav")), (2, None)],
        "media_id: long, payload: binary",
    )
    assert multimodal.audio_fingerprints(bad, strict=False).count() == 0
    with _pt.raises(Exception):
        multimodal.audio_fingerprints(bad, strict=True).count()
    # clips shorter than two analysis frames yield no rows
    short = multimodal.synth_audio_fp_payloads(
        spark.range(0, 2).selectExpr("id AS doc_id"), n_samples=1000
    )
    assert multimodal.audio_fingerprints(short, strict=False).count() == 0


def test_frame_neardup_rollup_containment_and_stride_guard(spark):
    """The shared clip rollup uses CONTAINMENT semantics — a pair
    reports when every frame of the SHORTER clip matches, regardless of
    which id sorts lower — and fails loudly when a frame_idx reaches
    the packing stride (silent aliasing would misattribute matches)."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from etl_excel_csv_sql_spark.operators import multimodal

    # clip 1 (LOWER id) is LONGER (4 frames); clip 2 (higher id, 2
    # frames) is fully contained in it — under the old
    # every-frame-of-vid_a rule this pair was missed
    rows = [(1, f, 100 + f) for f in range(4)] + [
        (2, f, 100 + f) for f in range(2)
    ]
    fh = spark.createDataFrame(
        rows, "media_id long, frame_idx int, h long"
    )
    got = multimodal.frame_neardup_pairs(fh, max_hamming=0).collect()
    assert [(r.clip_a, r.clip_b, r.n_matched) for r in got] == [(1, 2, 2)]

    # stride guard: frame_idx at the stride must raise, not alias
    bad = spark.createDataFrame(
        [(1, 0, 5), (1, 10, 5)], "media_id long, frame_idx int, h long"
    )
    with _pt.raises(Exception, match="stride"):
        multimodal.frame_neardup_pairs(bad, max_hamming=0, stride=10).count()


# ---------------------------------------------------------------------------
# Closed-form fixture contracts (r11): the four perceptual near-dup
# queries carry FULL DuckDB value oracles; these tests pin the two
# properties the oracles rest on — (1) the pipeline output EQUALS the
# contract exactly, and (2) cross-pair safety over the REAL testdata id
# samples (no non-twin pair inside the Hamming ball).
# ---------------------------------------------------------------------------


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def test_grid_ahash_equals_pattern_exactly(spark):
    """decode -> grayscale -> integral-image block-mean -> threshold must
    reproduce grid_pattern64 bit-for-bit across all three codecs, and the
    flip_bits twin must differ by EXACTLY that many bits."""
    ids = spark.range(0, 9).selectExpr("id AS doc_id")
    got = {
        r.media_id: r.ahash
        for r in multimodal.ahash_images(
            multimodal.synth_grid_image_payloads(ids), strict=True
        ).collect()
    }
    for mid in range(9):
        assert got[mid] == _signed64(multimodal.grid_pattern64(mid)), mid
    twins = {
        r.media_id: r.ahash
        for r in multimodal.ahash_images(
            multimodal.synth_grid_image_payloads(
                ids, id_offset=1_000_000,
                flip_bits=multimodal.GRID_FLIP_BITS,
            ),
            strict=True,
        ).collect()
    }
    for mid in range(9):
        d = bin((got[mid] ^ twins[mid + 1_000_000]) & ((1 << 64) - 1)).count("1")
        assert d == multimodal.GRID_FLIP_BITS, (mid, d)


def test_grid_video_frame_hashes_follow_contract(spark):
    """Per-frame DIB decode hash == grid_pattern64(id, 'gridvid:{f}')
    and frame count == 3 + id % 4 (the oracle's n_matched)."""
    ids = spark.range(0, 8).selectExpr("id AS doc_id")
    rows = multimodal.video_frame_ahash(
        multimodal.synth_grid_dib_video_payloads(ids), strict=True
    ).collect()
    by_clip: dict[int, dict[int, int]] = {}
    for r in rows:
        by_clip.setdefault(r.media_id, {})[r.frame_idx] = r.ahash
    for mid in range(8):
        n = 3 + mid % 4
        assert sorted(by_clip[mid]) == list(range(n)), mid
        for f in range(n):
            assert by_clip[mid][f] == _signed64(
                multimodal.grid_pattern64(mid, f"gridvid:{f}")
            ), (mid, f)


def test_grid_mjpeg_frame_hashes_follow_contract(spark):
    """Per-frame MJPEG ENTROPY decode hash == grid_pattern64(id,
    'gridvid:{f}') — the hash is lossless through the lossy codec
    because grid cells align with DCT blocks (DC-only, uniform shift
    per cell). Ids 0..17 cover the fixture's full quality (75/85/90) x
    subsampling (4:4:4/4:2:2/4:2:0) x restart (0/2) cycle, and twins
    sit at exactly GRID_FLIP_BITS after the JPEG round-trip."""
    ids = spark.range(0, 18).selectExpr("id AS doc_id")
    rows = multimodal.video_frame_ahash(
        multimodal.synth_grid_mjpeg_video_payloads(ids), strict=True
    ).collect()
    by_clip: dict[int, dict[int, int]] = {}
    for r in rows:
        by_clip.setdefault(r.media_id, {})[r.frame_idx] = r.ahash
    for mid in range(18):
        n = 3 + mid % 4
        assert sorted(by_clip[mid]) == list(range(n)), mid
        for f in range(n):
            assert by_clip[mid][f] == _signed64(
                multimodal.grid_pattern64(mid, f"gridvid:{f}")
            ), (mid, f)
    twins = {
        r.media_id: {r.frame_idx: r.ahash}
        for r in multimodal.video_frame_ahash(
            multimodal.synth_grid_mjpeg_video_payloads(
                spark.range(0, 6).selectExpr("id AS doc_id"),
                id_offset=1_000_000,
                flip_bits=multimodal.GRID_FLIP_BITS,
            ),
            strict=True,
        ).collect()
        if r.frame_idx == 0
    }
    for mid in range(6):
        d = bin(
            (by_clip[mid][0] ^ twins[mid + 1_000_000][0]) & ((1 << 64) - 1)
        ).count("1")
        assert d == multimodal.GRID_FLIP_BITS, (mid, d)


def test_mp3_meta_kernel_follows_contract(spark):
    """extract_mp3_meta over synth clips matches synth_mp3_params for
    every field; undecodable payloads yield nulls (raise under strict)."""
    df = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    clips = multimodal.synth_mp3_payloads(df)
    media = multimodal.to_media_column(clips, "media_id", "payload", "audio")
    rows = {
        r.media_id: r
        for r in multimodal.extract_mp3_meta(media, strict=True).collect()
    }
    for mid in range(12):
        kbps, sr, nf, id3 = multimodal.synth_mp3_params(mid)
        r = rows[mid]
        assert (r.bitrate_kbps, r.sample_rate, r.n_frames, r.has_id3) == (
            kbps, sr, nf, id3,
        ), mid
        assert r.duration_ms == nf * 1152 * 1000 // sr
    bad = spark.createDataFrame(
        [(99, bytearray(b"not an mp3"))], ["doc_id", "blob"]
    )
    bad_media = multimodal.to_media_column(bad, "doc_id", "blob", "audio")
    lax = multimodal.extract_mp3_meta(bad_media).collect()[0]
    assert lax.bitrate_kbps is None and lax.has_id3 is None
    with pytest.raises(Exception, match="sync|frames|MPEG"):
        multimodal.extract_mp3_meta(bad_media, strict=True).collect()


def test_mp4_meta_kernel_follows_contract(spark):
    """extract_mp4_meta over synth ISO-BMFF fixtures matches
    synth_mp4_params for every field; audio-only ids (id % 4 == 1)
    yield NULL dims/codec; garbage yields nulls (raise under strict)."""
    df = spark.range(0, 16).withColumnRenamed("id", "doc_id")
    clips = multimodal.synth_mp4_payloads(df)
    media = multimodal.to_media_column(clips, "media_id", "payload", "video")
    rows = {
        r.media_id: r
        for r in multimodal.extract_mp4_meta(media, strict=True).collect()
    }
    for mid in range(16):
        brand, ts, dur, n_tracks, has_video, vc, w, h = (
            multimodal.synth_mp4_params(mid)
        )
        r = rows[mid]
        assert (r.major_brand, r.timescale, r.n_tracks) == (
            brand, ts, n_tracks,
        ), mid
        assert r.duration_ms == dur * 1000 // ts
        if has_video:
            assert (r.width, r.height, r.video_codec) == (w, h, vc), mid
        else:
            assert r.width is None and r.video_codec is None, mid
    bad = spark.createDataFrame(
        [(99, bytearray(b"not an mp4 file at all........"))],
        ["doc_id", "blob"],
    )
    bad_media = multimodal.to_media_column(bad, "doc_id", "blob", "video")
    lax = multimodal.extract_mp4_meta(bad_media).collect()[0]
    assert lax.major_brand is None and lax.n_tracks is None
    with pytest.raises(Exception, match="BMFF|ftyp"):
        multimodal.extract_mp4_meta(bad_media, strict=True).collect()


def test_flac_meta_kernel_follows_contract(spark):
    """extract_flac_meta over synth STREAMINFO fixtures matches
    synth_flac_params for every field; garbage yields nulls (raise
    under strict)."""
    df = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    clips = multimodal.synth_flac_payloads(df)
    media = multimodal.to_media_column(clips, "media_id", "payload", "audio")
    rows = {
        r.media_id: r
        for r in multimodal.extract_flac_meta(media, strict=True).collect()
    }
    for mid in range(24):
        rate, ch, bits, total, vc = multimodal.synth_flac_params(mid)
        r = rows[mid]
        assert (
            r.sample_rate, r.channels, r.bits_per_sample, r.total_samples,
            r.has_comment,
        ) == (rate, ch, bits, total, vc), mid
        assert r.duration_ms == total * 1000 // rate
    bad = spark.createDataFrame(
        [(99, bytearray(b"fLaX not a flac"))], ["doc_id", "blob"]
    )
    bad_media = multimodal.to_media_column(bad, "doc_id", "blob", "audio")
    lax = multimodal.extract_flac_meta(bad_media).collect()[0]
    assert lax.sample_rate is None and lax.has_comment is None
    with pytest.raises(Exception, match="FLAC|fLaC"):
        multimodal.extract_flac_meta(bad_media, strict=True).collect()


def test_remux_wav_identical_pcm_different_bytes():
    pcm = (np.arange(4096) % 251 - 125).astype(np.int16)
    wav = codecs.encode_wav(pcm, 8000, 1)
    twin = codecs.remux_wav(wav)
    assert twin != wav
    a, ra = codecs.decode_wav(wav)
    b, rb = codecs.decode_wav(twin)
    assert ra == rb and np.array_equal(a, b)
    assert codecs.wav_meta(twin) == codecs.wav_meta(wav)
    with pytest.raises(ValueError):
        codecs.remux_wav(b"not a wav")


def test_audio_fp_fixture_subfps_constant(spark):
    """The oracle's n_matched constant must equal the REAL pipeline's
    sub-fingerprint count per fixture clip (and remux twins must carry
    fingerprints EXACTLY equal to their originals)."""
    ids = spark.range(0, 4).selectExpr("id AS doc_id")
    fps = multimodal.audio_fingerprints(
        multimodal.synth_audio_fp_payloads(ids)
    ).collect()
    per_clip: dict[int, dict[int, int]] = {}
    for r in fps:
        per_clip.setdefault(r.media_id, {})[r.frame_idx] = r.fp
    for mid in range(4):
        assert len(per_clip[mid]) == multimodal.AUDIO_FP_FIXTURE_SUBFPS, mid
    twins = multimodal.audio_fingerprints(
        multimodal.synth_audio_fp_payloads(ids, id_offset=1_000_000, remux=True)
    ).collect()
    for r in twins:
        assert r.fp == per_clip[r.media_id - 1_000_000][r.frame_idx]


def test_grid_fixture_cross_pair_safety_real_ids():
    """Pure-Python recompute of the pattern/pHash contracts over the REAL
    sf0.01 and sf0.1 id samples: minimum cross distance must clear the
    query Hamming ball with margin, so the oracles' 'pairs == exactly
    the twins' claim is a checked property of the actual corpus, not an
    assumption. (Images: twins flip 2 bits in a radius-2 ball -> need
    min cross >= 7; pHash twins are exact -> need >= 3; video needs >= 7
    on every cross-clip frame combination.)"""
    import duckdb

    for sf in ("sf0.01", "sf0.1"):
        con = duckdb.connect()
        ids20 = [
            r[0]
            for r in con.execute(
                "SELECT doc_id FROM read_parquet("
                f"'/root/testdata/{sf}/documents.parquet') "
                "WHERE doc_id % 20 = 0"
            ).fetchall()
        ]
        ids50 = [i for i in ids20 if i % 50 == 0]
        pats = [multimodal.grid_pattern64(i) for i in ids20]
        assert min(
            bin(a ^ b).count("1")
            for i, a in enumerate(pats)
            for b in pats[i + 1 :]
        ) >= 7, sf
        ph = [
            multimodal._phash_bits(
                multimodal._grid_pixels(
                    multimodal.grid_pattern64(i, key="gridimg_p")
                ).astype(np.float64).mean(axis=2)
            )
            for i in ids20
        ]
        assert min(
            bin(a ^ b).count("1")
            for i, a in enumerate(ph)
            for b in ph[i + 1 :]
        ) >= 3, sf
        vids = [
            [
                multimodal.grid_pattern64(i, f"gridvid:{f}")
                for f in range(3 + i % 4)
            ]
            for i in ids50
        ]
        assert min(
            bin(pa ^ pb).count("1")
            for i, fa in enumerate(vids)
            for fb in vids[i + 1 :]
            for pa in fa
            for pb in fb
        ) >= 7, sf


def test_audio_fixture_cross_pair_safety_real_ids(spark):
    """Every non-twin clip pair over the REAL sf0.01 id sample must have
    at least one aligned analysis frame OUTSIDE the Hamming-3 ball (the
    containment rollup then can't report it). Also regression-pins the
    r10 chirp-keying collision: ids 2600 apart — a multiple of the
    query's %50 stride — used to share every base frequency."""
    import duckdb

    con = duckdb.connect()
    ids = [
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM read_parquet("
            "'/root/testdata/sf0.01/documents.parquet') "
            "WHERE doc_id % 50 = 0"
        ).fetchall()
    ]
    ids = sorted(set(ids) | {0, 2600})  # force the old collision pair in
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    fps = multimodal.audio_fingerprints(
        multimodal.synth_audio_fp_payloads(df)
    ).collect()
    per_clip: dict[int, list[int]] = {}
    for r in fps:
        per_clip.setdefault(r.media_id, []).append((r.frame_idx, r.fp))
    clips = {k: [fp for _, fp in sorted(v)] for k, v in per_clip.items()}
    mids = sorted(clips)
    for i, a in enumerate(mids):
        for b in mids[i + 1 :]:
            worst = max(
                bin((x ^ y) & ((1 << 64) - 1)).count("1")
                for x, y in zip(clips[a], clips[b])
            )
            assert worst > 3, (a, b, worst)


def test_mixed_real_world_shapes_quarantine_rate_zero(spark):
    """r10 VERDICT #5 (+ r11 GIF/progressive): a mixed fixture of every
    real-world image shape — BMP, PNG, interlaced PNG, PPM, header-only
    JPEGs (sequential + progressive), GIF, interlaced GIF, baseline
    JPEG, and REAL progressive JPEG — must yield ZERO metadata
    quarantines; same-pixel payloads must hash identically across
    layouts (interlace) and codecs (lossless set), and a progressive
    JPEG must hash identically to its baseline twin (same quantized
    coefficients)."""
    s = (np.arange(24)[:, None] * 7 + np.arange(32)[None, :] * 3) % 256
    arr = np.stack([s, (s + 31) % 256, (s + 62) % 256], axis=2).astype(np.uint8)
    payloads = [
        (1, codecs.encode_bmp(arr)),
        (2, codecs.encode_png(arr)),
        (3, codecs.encode_png(arr, interlace=True)),
        (4, codecs.encode_ppm(arr)),
        (5, codecs.encode_jpeg_header_only(32, 24)),
        (6, codecs.encode_jpeg_header_only(32, 24, progressive=True)),
        (7, codecs.encode_gif(arr)),
        (9, codecs.encode_jpeg_baseline(arr, quality=90)),
        (10, codecs.encode_jpeg_progressive(arr, quality=90)),
        (11, codecs.encode_tiff(arr, strips=4)),
    ]
    # interlaced GIF: rows pre-permuted into 4-pass order + flag patch
    perm = sum(([r for r in range(s, 24, t)] for s, t in
                ((0, 8), (4, 8), (2, 4), (1, 2))), [])
    igif = bytearray(codecs.encode_gif(arr[perm]))
    dpos = 13 + (2 << (igif[10] & 0x07)) * 3
    igif[dpos + 9] |= 0x40
    payloads.append((8, bytes(igif)))
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads], ["doc_id", "blob"]
    )
    media = multimodal.to_media_column(df, "doc_id", "blob", "image")
    rows = {r.media_id: r for r in multimodal.extract_image_meta(media, strict=True).collect()}
    assert len(rows) == 11
    for mid, r in rows.items():
        assert (r.width, r.height) == (32, 24), mid
    # pixel paths: interlaced PNG/GIF decode to the same array -> same
    # aHash; progressive JPEG decodes bit-identical to its baseline twin
    pix = multimodal.ahash_images(
        media.where(F.col("media_id").isin(1, 2, 3, 4, 7, 8, 9, 10, 11)),
        strict=True,
    ).collect()
    hashes = {r.media_id: r.ahash for r in pix}
    assert (
        hashes[2] == hashes[3] == hashes[1] == hashes[4]
        == hashes[7] == hashes[8] == hashes[11]
    )
    assert hashes[9] == hashes[10]


def test_aac_meta_kernel_follows_contract(spark):
    """extract_aac_meta over synth ADTS fixtures matches
    synth_aac_params for every field; garbage yields nulls (raise
    under strict)."""
    df = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    clips = multimodal.synth_aac_payloads(df)
    media = multimodal.to_media_column(clips, "media_id", "payload", "audio")
    rows = {
        r.media_id: r
        for r in multimodal.extract_aac_meta(media, strict=True).collect()
    }
    for mid in range(24):
        prof, rate, ch, nf, crc = multimodal.synth_aac_params(mid)
        r = rows[mid]
        assert (
            r.profile, r.sample_rate, r.channels, r.n_frames, r.has_crc
        ) == (prof, rate, ch, nf, crc), mid
        assert r.duration_ms == nf * 1024 * 1000 // rate
    bad = spark.createDataFrame(
        [(99, bytearray(b"\x00not adts"))], ["doc_id", "blob"]
    )
    bad_media = multimodal.to_media_column(bad, "doc_id", "blob", "audio")
    lax = multimodal.extract_aac_meta(bad_media).collect()[0]
    assert lax.sample_rate is None and lax.has_crc is None
    with pytest.raises(Exception, match="ADTS"):
        multimodal.extract_aac_meta(bad_media, strict=True).collect()


def test_webm_meta_kernel_follows_contract(spark):
    """extract_webm_meta over synth EBML fixtures matches
    synth_webm_params for every field (audio-only residue included);
    garbage yields nulls (raise under strict)."""
    df = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    clips = multimodal.synth_webm_payloads(df)
    media = multimodal.to_media_column(clips, "media_id", "payload", "video")
    rows = {
        r.media_id: r
        for r in multimodal.extract_webm_meta(media, strict=True).collect()
    }
    for mid in range(24):
        dt, ts, ticks, ntr, has_video, vc, w, h = (
            multimodal.synth_webm_params(mid)
        )
        r = rows[mid]
        assert (r.doc_type, r.timescale_ns, r.n_tracks) == (dt, ts, ntr)
        assert r.duration_ms == ticks * ts // 1_000_000
        if has_video:
            assert (r.width, r.height, r.video_codec) == (w, h, vc), mid
        else:
            assert (r.width, r.height, r.video_codec) == (None,) * 3, mid
    bad = spark.createDataFrame(
        [(99, bytearray(b"\x00\x00 not ebml"))], ["doc_id", "blob"]
    )
    bad_media = multimodal.to_media_column(bad, "doc_id", "blob", "video")
    lax = multimodal.extract_webm_meta(bad_media).collect()[0]
    assert lax.doc_type is None and lax.n_tracks is None
    with pytest.raises(Exception, match="EBML"):
        multimodal.extract_webm_meta(bad_media, strict=True).collect()


def test_webp_meta_kernel_follows_contract(spark):
    """extract_webp_meta over synth RIFF fixtures matches
    synth_webp_params for every field; garbage yields nulls (raise
    under strict)."""
    df = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    clips = multimodal.synth_webp_payloads(df)
    media = multimodal.to_media_column(clips, "media_id", "payload", "image")
    rows = {
        r.media_id: r
        for r in multimodal.extract_webp_meta(media, strict=True).collect()
    }
    for mid in range(24):
        fmt, w, h, alpha, anim = multimodal.synth_webp_params(mid)
        r = rows[mid]
        assert (
            r.format, r.width, r.height, r.has_alpha, r.has_animation
        ) == (fmt, w, h, alpha, anim), mid
    bad = spark.createDataFrame(
        [(99, bytearray(b"RIFFxxxxNOPE"))], ["doc_id", "blob"]
    )
    bad_media = multimodal.to_media_column(bad, "doc_id", "blob", "image")
    lax = multimodal.extract_webp_meta(bad_media).collect()[0]
    assert lax.format is None and lax.width is None
    with pytest.raises(Exception, match="WebP"):
        multimodal.extract_webp_meta(bad_media, strict=True).collect()


def test_ogg_meta_kernel_follows_contract(spark):
    """extract_ogg_meta over synth Ogg/Opus fixtures matches
    synth_ogg_params for every field; garbage yields nulls (raise
    under strict)."""
    df = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    clips = multimodal.synth_ogg_payloads(df)
    media = multimodal.to_media_column(clips, "media_id", "payload", "audio")
    rows = {
        r.media_id: r
        for r in multimodal.extract_ogg_meta(media, strict=True).collect()
    }
    for mid in range(24):
        ch, ps, ir, npg, samp = multimodal.synth_ogg_params(mid)
        r = rows[mid]
        assert (
            r.channels, r.pre_skip, r.input_sample_rate, r.n_pages
        ) == (ch, ps, ir, npg + 2), mid
        assert r.duration_ms == samp * 1000 // 48000
    bad = spark.createDataFrame(
        [(99, bytearray(b"not ogg at all"))], ["doc_id", "blob"]
    )
    bad_media = multimodal.to_media_column(bad, "doc_id", "blob", "audio")
    lax = multimodal.extract_ogg_meta(bad_media).collect()[0]
    assert lax.channels is None and lax.n_pages is None
    with pytest.raises(Exception, match="Ogg|capture"):
        multimodal.extract_ogg_meta(bad_media, strict=True).collect()


def test_media_catalog_kernel_follows_mixed_contract(spark):
    """extract_media_catalog over the mixed id%7 fixture: container,
    kind, dims, and duration all match the composed per-family
    contracts; garbage yields nulls (raise under strict)."""
    df = spark.range(0, 28).withColumnRenamed("id", "doc_id")
    clips = multimodal.synth_mixed_media_payloads(df)
    media = multimodal.to_media_column(clips, "media_id", "payload", "mixed")
    rows = {
        r.media_id: r
        for r in multimodal.extract_media_catalog(
            media, strict=True
        ).collect()
    }
    fams = ("mp3", "mp4", "flac", "adts", "webm", "ogg", "webp")
    for mid in range(28):
        r = rows[mid]
        fam = fams[mid % 7]
        assert r.container == fam, mid
        assert r.kind == (
            "video" if fam in ("mp4", "webm")
            else "image" if fam == "webp" else "audio"
        )
        if fam == "webp":
            assert r.duration_ms is None
            assert (r.width, r.height) == (
                16 + (mid % 120) * 8, 16 + (mid % 68) * 8
            )
        elif fam in ("mp4", "webm"):
            if mid % 4 == 1:
                assert r.width is None and r.height is None
            else:
                assert (r.width, r.height) == (
                    160 + 8 * (mid % 120), 120 + 8 * (mid % 68)
                )
            assert r.duration_ms is not None
        else:
            assert r.width is None and r.duration_ms is not None
    bad = spark.createDataFrame(
        [(99, bytearray(b"\x00\x01 nothing"))], ["doc_id", "blob"]
    )
    bad_media = multimodal.to_media_column(bad, "doc_id", "blob", "mixed")
    lax = multimodal.extract_media_catalog(bad_media).collect()[0]
    assert lax.container is None and lax.kind is None
    with pytest.raises(Exception, match="magic|sniff"):
        multimodal.extract_media_catalog(bad_media, strict=True).collect()
    # r13: a PDF in a mixed dump routes as a dims-less 'doc' row (a
    # KeyError here once would have killed the whole lenient batch)
    from etl_excel_csv_sql_spark.operators import pdf as _pdf

    doc = spark.createDataFrame(
        [(7, bytearray(_pdf.encode_pdf([["x"]])))], ["doc_id", "blob"]
    )
    doc_media = multimodal.to_media_column(doc, "doc_id", "blob", "mixed")
    row = multimodal.extract_media_catalog(doc_media, strict=True).collect()[0]
    assert (row.container, row.kind) == ("pdf", "doc")
    assert row.width is None and row.duration_ms is None


# ---------------------------------------------------------------------------
# One error contract per kernel shape: a one-row kernel answers a null or
# undecodable payload with an all-null row, an exploding kernel with no
# row; under strict both raise ValueError.
# ---------------------------------------------------------------------------

ONE_ROW_KERNELS = (
    "extract_image_meta", "resize_images", "extract_audio_meta",
    "extract_video_meta", "extract_exif_meta", "ahash_images",
    "phash_images", "extract_mp3_meta",
)
EXPLODING_KERNELS = (
    "extract_video_frames", "video_frame_ahash", "audio_fingerprints",
)


@pytest.mark.parametrize("kernel", ONE_ROW_KERNELS + EXPLODING_KERNELS)
def test_kernel_error_contract(spark, kernel):
    raw = spark.createDataFrame(
        [(5, None), (6, bytearray(b"garbage!"))], "doc_id long, blob binary"
    ).coalesce(1)
    media = multimodal.to_media_column(raw, "doc_id", "blob", "image")
    fn = getattr(multimodal, kernel)
    rows = fn(media).collect()
    if kernel in EXPLODING_KERNELS:
        assert rows == []
    else:
        assert sorted(r.media_id for r in rows) == [5, 6]
        carried = set(media.columns) - {"payload"}
        for row in rows:
            assert all(
                row[c] is None for c in row.asDict() if c not in carried
            ), row
    for mid, want in ((5, "null payload"), (6, "")):
        with pytest.raises(Exception, match=f"ValueError: {want}"):
            fn(media.where(F.col("media_id") == mid), strict=True).collect()


def test_lenient_ahash_keeps_64_bit_hash_next_to_null(spark):
    """A null hash in the same Arrow batch must not turn the column into
    float64, which would round a hash of magnitude ≥ 2^53."""
    mid = next(
        m for m in range(100)
        if abs(h := _signed64(multimodal.grid_pattern64(m))) >= 2**53
        and int(float(h)) != h
    )
    good = multimodal.synth_grid_image_payloads(
        spark.createDataFrame([(mid,)], "doc_id long")
    )
    bad = spark.createDataFrame(
        [(-1, bytearray(b"not an image"))], "media_id long, payload binary"
    )
    corpus = bad.unionByName(good).coalesce(1)
    got = {r.media_id: r.ahash for r in multimodal.ahash_images(corpus).collect()}
    assert got == {-1: None, mid: _signed64(multimodal.grid_pattern64(mid))}


@pytest.mark.parametrize(
    "scale, rate, n_frames, fps, duration_ms",
    [(1001, 30000, 900, 29, 30030), (2, 1, 4, 0, 8000)],
    ids=["ntsc_29.97", "half_fps"],
)
def test_avi_duration_is_exact_in_both_kernels(
    spark, scale, rate, n_frames, fps, duration_ms
):
    """duration_ms comes from the exact strh rate/scale, not the floored
    fps, in extract_video_meta and the media catalog alike."""
    import struct

    avi = bytearray(codecs.encode_avi(16, 16, 30, n_frames))
    strh_at = avi.find(b"strh")
    struct.pack_into("<II", avi, strh_at + 8 + 20, scale, rate)
    raw = spark.createDataFrame([(1, avi)], "doc_id long, blob binary")
    media = multimodal.to_media_column(raw, "doc_id", "blob", "video")
    (meta,) = multimodal.extract_video_meta(media, strict=True).collect()
    assert (meta.fps, meta.n_frames, meta.duration_ms) == (
        fps, n_frames, duration_ms
    )
    (cat,) = multimodal.extract_media_catalog(media, strict=True).collect()
    assert (cat.container, cat.duration_ms) == ("avi", duration_ms)
