"""Multimodal columns: image/audio/video as opaque binary columns with
REAL pure-stdlib decode kernels.

Images (BMP / PNG / PPM / GIF / baseline JPEG full decode) and audio
(RIFF-WAVE demux) are handled by ``operators.codecs`` — ``struct`` +
``zlib`` + numpy only, no codec libraries — so metadata extraction and
thumbnail resize run on real bytes end-to-end. Video is demuxed at the
FRAME level too (AVI movi walk): both uncompressed-DIB and MJPEG
frames decode to real pixels for frame-level aHash near-dup
(``codecs.decode_jpeg`` — baseline AND progressive). Formats outside
that set (non-AVI containers, header-only fixtures) raise in strict
mode and degrade otherwise; that boundary is documented per kernel.

Every kernel is one of three Arrow templates, each the module's only
``mapInPandas`` call of its shape:

- ``_synth_payload_frame``: id → one synthetic payload (fixtures);
- ``_extract_meta_frame``: payload → exactly one row (metadata, resize,
  hashes) — a null or undecodable payload gives an all-null row;
- ``_explode_frame``: payload → zero or more rows (frames, per-frame
  hashes, audio sub-fingerprints) — a null or undecodable payload gives
  no row.

Under ``strict=True`` the last two raise ``ValueError`` instead.

Design for 100 TB of media:
- binary payloads stay in parquet/iceberg columns; never collect() them;
- mapInPandas streams Arrow batches → bounded executor memory regardless
  of row width (spark.sql.execution.arrow.maxRecordsPerBatch caps batch
  rows for fat media columns);
- metadata kernels parse HEADERS only (no pixel inflate) — cheap narrow
  maps; the resize kernel is the heavy stage: repartition by a byte_len
  size bucket before it so one 4K still doesn't straggle a partition of
  thumbnails, and coalesce after (outputs shrink).

The reference repo has no multimodal surface; this family implements the
builder brief's training-data-pipeline scope.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_excel_csv_sql_spark.operators import codecs

#: Typed metadata schema attached to every media column.
MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("byte_len", LongType(), True),
        StructField("magic", StringType(), True),
        StructField("fmt", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
    ]
)


def to_media_column(
    df: DataFrame, id_col: str, payload_col: str, media_type: str = "image"
) -> DataFrame:
    """Normalize any binary-bearing frame into the engine's media shape:
    (media_id, media_type, payload binary, byte_len, magic). ``magic`` is
    the first 4 bytes hex — enough to route by container format without
    decoding."""
    payload = F.col(payload_col).cast("binary")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(media_type).alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("long").alias("byte_len"),
        F.hex(F.substring(payload, 1, 4)).alias("magic"),
    )


def _extract_meta_frame(
    df: DataFrame, kernel, cols: tuple, schema, strict: bool
) -> DataFrame:
    """(media_id, payload, ...) → one row per payload via a bytes → tuple
    kernel that fills ``cols`` — the Arrow template behind every
    one-row-per-payload kernel. The schema's other columns (media_id,
    and e.g. the image kernel's media_type/byte_len/magic) carry over
    from the input unchanged. A null or undecodable (``ValueError``)
    payload gives an all-null row unless ``strict``, which raises.
    Columns build as object Series: a 64-bit hash next to a null would
    otherwise become float64 and lose its low bits. Plain select + map,
    so it runs on streaming frames too."""
    out_schema = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    carried = [c for c in out_schema.names if c not in cols]
    empty = (None,) * len(cols)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {k: [] for k in cols}
            for payload in pdf["payload"]:
                vals = empty
                if payload is None:
                    if strict:
                        raise ValueError("null payload in strict decode")
                else:
                    try:
                        vals = kernel(bytes(payload))
                    except ValueError:
                        if strict:
                            raise
                for k, v in zip(cols, vals):
                    out[k].append(v)
            yield pd.DataFrame(
                {k: pdf[k] for k in carried}
                | {k: pd.Series(v, dtype="object") for k, v in out.items()}
            )

    src = df.select(
        F.col("media_id").cast("long").alias("media_id"),
        "payload",
        *(c for c in carried if c != "media_id"),
    )
    return src.mapInPandas(batches, out_schema)


def _explode_frame(
    df: DataFrame, kernel, schema: StructType, strict: bool
) -> DataFrame:
    """(media_id, payload) → zero or more (media_id, ...) rows per
    payload via a (bytes, strict) → rows kernel — the Arrow template
    behind every exploding kernel. A null or undecodable payload raises
    under ``strict`` and otherwise gives ZERO rows: per-row nulls would
    fabricate a frame count of 1. Per-frame failures are the kernel's
    (it sees ``strict``)."""
    names = schema.names

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {k: [] for k in names}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    if strict:
                        raise ValueError("null payload in strict decode")
                    continue
                try:
                    rows = list(kernel(bytes(payload), strict))
                except ValueError:
                    if strict:
                        raise
                    continue
                for row in rows:
                    for k, v in zip(names, (mid, *row)):
                        out[k].append(v)
            yield pd.DataFrame(
                {k: pd.Series(v, dtype="object") for k, v in out.items()}
            )

    return df.select("media_id", "payload").mapInPandas(batches, schema)


def extract_image_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL image metadata extraction: (media_id, media_type, byte_len,
    magic, fmt, width, height) via mapInPandas (Arrow-batched; payload
    bytes never round-trip as Python row objects).

    Dims come from actual header parses — BMP BITMAPINFOHEADER, PNG IHDR,
    PPM P6 header, JPEG SOFn marker walk (``codecs.image_meta``). No
    pixel data is inflated, so this is a cheap narrow map even on fat
    payloads. ``strict=True`` raises ValueError on the first payload no
    parser accepts; default maps undecodable/null payloads to null
    fmt/dims (quarantine-friendly).
    """
    return _extract_meta_frame(
        df, codecs.image_meta, ("fmt", "width", "height"),
        MEDIA_META_SCHEMA, strict,
    )


def frame_sample_plan(df: DataFrame) -> DataFrame:
    """Video frame-sampling *plan*: explode one row per frame sampled every
    5 s, with the duration estimated from byte_len alone (5 MB per 5 s),
    so the plan reads no container; ``extract_video_frames`` demuxes the
    real AVI frames (``codecs.avi_frames``). Shows the scale-correct
    shape: explode → repartition by (media_id % shards) before the heavy
    decode so long videos spread across executors."""
    n_frames = (F.col("byte_len") / F.lit(5_000_000)).cast("int") + 1
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).withColumn("sample_ts_s", F.col("frame_idx") * 5)


#: audio analysis-frame hop (the classic 20 ms MFCC stride)
_AUDIO_HOP_MS = 20


def audio_frame_plan(df: DataFrame) -> DataFrame:
    """Audio analysis-frame plan over REAL demuxed durations: one row per
    20 ms hop starting inside [0, duration] — the standard
    feature-extraction framing (a 20 ms hop is the classic MFCC stride).
    Integer arithmetic throughout so the plan is externally predictable.
    Same scale shape as ``frame_sample_plan``: a narrow explode whose
    output should be repartitioned before any heavy per-frame decode."""
    n_hops = (F.col("duration_ms") / F.lit(_AUDIO_HOP_MS)).cast("long")
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_hops)).alias("frame_idx"),
    ).withColumn("start_ms", F.col("frame_idx") * _AUDIO_HOP_MS)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("fmt", StringType(), True),
        StructField("src_width", LongType(), True),
        StructField("src_height", LongType(), True),
        StructField("dst_width", LongType(), True),
        StructField("dst_height", LongType(), True),
    ]
)


def _bounded_dims(w: int, h: int, max_side: int) -> tuple[int, int]:
    """Aspect-preserving bound: images within max_side pass through; larger
    ones scale so the long side == max_side. Pure integer arithmetic
    (floor division) so an external oracle can predict the result."""
    long_side = max(w, h)
    if long_side <= max_side:
        return w, h
    return max(1, (w * max_side) // long_side), max(1, (h * max_side) // long_side)


def resize_images(
    df: DataFrame, max_side: int = 256, strict: bool = False
) -> DataFrame:
    """REAL aspect-preserving thumbnail resize via mapInPandas: decode
    (BMP/PNG/PPM/GIF/baseline JPEG, ``codecs.decode_image``) →
    nearest-neighbor resample (``codecs.resize_nearest``) → re-encode in
    the source format. Payload out is a genuinely resized image; src/dst
    dims use floor-division arithmetic (``_bounded_dims``) so results
    are externally predictable.

    Payloads without a pixel decoder (header-only fixtures, arithmetic-
    coded JPEG) raise under ``strict=True`` and yield null payload/dims
    otherwise.

    At 100 TB: this is the straggler-prone stage — repartition by a
    byte_len size bucket BEFORE it so a partition of 4K stills doesn't
    serialize behind thumbnails; output payloads shrink, so coalesce
    after.
    """

    def resize(payload: bytes) -> tuple:
        fmt, arr = codecs.decode_image(payload)
        sh, sw = arr.shape[:2]
        dw, dh = _bounded_dims(sw, sh, max_side)
        resized = arr if (dw, dh) == (sw, sh) else codecs.resize_nearest(arr, dw, dh)
        return codecs.encode_image(resized, fmt), fmt, sw, sh, dw, dh

    return _extract_meta_frame(
        df, resize,
        ("payload", "fmt", "src_width", "src_height", "dst_width",
         "dst_height"),
        RESIZED_SCHEMA, strict,
    )


AUDIO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("byte_len", LongType(), True),
        StructField("sample_rate", LongType(), True),
        StructField("n_channels", LongType(), True),
        StructField("bits_per_sample", LongType(), True),
        StructField("n_frames", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)


def _wav_row(payload: bytes) -> tuple:
    """(sample_rate, n_channels, bits_per_sample, n_frames, duration_ms);
    ``codecs.wav_meta`` rejects a zero rate."""
    rate, ch, bits, frames = codecs.wav_meta(payload)
    return rate, ch, bits, frames, frames * 1000 // rate


def extract_audio_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL audio metadata extraction: RIFF-WAVE chunk walk
    (``codecs.wav_meta``) → (sample_rate, n_channels, bits_per_sample,
    n_frames, duration_ms) per payload. Header-only — PCM samples are
    never inflated, so this stays a cheap narrow map. ``duration_ms``
    uses integer floor arithmetic (n_frames * 1000 // rate) for external
    predictability. Non-WAVE containers raise under ``strict=True`` and
    yield nulls otherwise."""
    return _extract_meta_frame(
        df, _wav_row,
        ("sample_rate", "n_channels", "bits_per_sample", "n_frames",
         "duration_ms"),
        AUDIO_META_SCHEMA, strict,
    )


VIDEO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("byte_len", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("fps", LongType(), True),
        StructField("n_frames", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)


def _avi_row(payload: bytes) -> tuple:
    """(width, height, fps, n_frames, duration_ms) of an AVI: ``fps`` is
    the floored strh rate / scale, while the duration uses the exact
    rational, n_frames * 1000 * scale // rate (floored once), so NTSC
    29.97 fps and sub-1 fps clips get their true length."""
    width, height, rate, scale, n_frames = codecs.avi_header(payload)
    return (
        width, height, rate // scale, n_frames,
        n_frames * 1000 * scale // rate,
    )


def extract_video_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL video container metadata: AVI RIFF header walk
    (``codecs.avi_header``) → (width, height, fps, n_frames, duration_ms)
    per payload. Header-only — the movi frame data is never read, so the
    kernel is a cheap narrow map no matter how large the videos are.
    ``fps`` is the floored frame rate; ``duration_ms`` is exact to the
    millisecond (``_avi_row``). Non-AVI containers raise under
    ``strict=True`` and yield nulls otherwise — same lenient/quarantine
    contract as the image and audio kernels."""
    return _extract_meta_frame(
        df, _avi_row,
        ("width", "height", "fps", "n_frames", "duration_ms"),
        VIDEO_META_SCHEMA, strict,
    )


# ---------------------------------------------------------------------------
# Deterministic synthetic payload generators (test/driver fixtures)
# ---------------------------------------------------------------------------
#
# The testdata tables carry no real media bytes, so the driver queries
# synthesize them — REAL encoded files whose dimensions are pure integer
# functions of the row id. That makes decode results externally
# predictable: an oracle that never touches the bytes can still assert
# every decoded width/height/rate, which upgrades the media queries from
# rows-only to full value parity. The generation itself runs distributed
# (mapInPandas over ids — payloads are born on executors, never on the
# driver). Every builder reads the input's ``doc_id`` column.

SYNTH_IMAGE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
    ]
)


def _synth_payload_frame(df: DataFrame, build) -> DataFrame:
    """(doc_id) → (media_id, payload) via a per-id payload builder — the
    one Arrow generation kernel behind every synth_*_payloads family
    (payloads are born on executors, never on the driver). The input
    spreads first: a single-split parquet id column would otherwise run
    EVERY payload build + downstream parse on one task."""
    from etl_excel_csv_sql_spark.operators.relational import (
        spread_for_compute,
    )

    ids = spread_for_compute(df).select(
        F.col("doc_id").cast("long").alias("media_id")
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = [build(int(m)) for m in pdf["media_id"]]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"],
                 "payload": pd.Series(payloads, dtype="object")}
            )

    return ids.mapInPandas(batches, SYNTH_IMAGE_SCHEMA)


_SYNTH_FMTS = ("bmp", "png", "ppm", "gif", "tiff")


def synth_image_dims(media_id: int) -> tuple[str, int, int]:
    """The id → (fmt, width, height) contract shared with the SQL oracle:
    fmt cycles bmp/png/ppm/gif/tiff by id % 5 (all five LOSSLESS on the
    synth pixel families: the gradient is a function of one byte so it
    has ≤256 distinct colors, within GIF's exact palette); width =
    8 + (7*id) % 80; height = 8 + (5*id) % 60."""
    return (
        _SYNTH_FMTS[media_id % 5],
        8 + (7 * media_id) % 80,
        8 + (5 * media_id) % 60,
    )


def _synth_pixels(media_id: int, w: int, h: int) -> np.ndarray:
    """Deterministic RGB gradient: pixel[y, x, c] = (3x + 7y + id + 31c)
    mod 256 — cheap numpy broadcast, unique-ish per image."""
    xs = np.arange(w, dtype=np.int64) * 3
    ys = np.arange(h, dtype=np.int64) * 7
    cs = np.arange(3, dtype=np.int64) * 31
    return ((ys[:, None, None] + xs[None, :, None] + cs[None, None, :] + media_id) % 256).astype(
        np.uint8
    )


def _image_payload(mid: int) -> bytes:
    fmt, w, h = synth_image_dims(mid)
    return codecs.encode_image(_synth_pixels(mid, w, h), fmt)


def synth_image_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload) with REAL encoded BMP/PNG/PPM bytes per
    the ``synth_image_dims`` contract."""
    return _synth_payload_frame(df, _image_payload)


_SYNTH_FPS = (10, 12, 24, 25, 30, 50)


def synth_video_params(media_id: int) -> tuple[int, int, int, int]:
    """id → (width, height, fps, n_frames) contract shared with the SQL
    oracle: width = 16 + (9*id) % 128; height = 16 + (5*id) % 96;
    fps = (10,12,24,25,30,50)[id % 6]; n_frames = 24 + id % 96."""
    return (
        16 + (9 * media_id) % 128,
        16 + (5 * media_id) % 96,
        _SYNTH_FPS[media_id % 6],
        24 + media_id % 96,
    )


def synth_video_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload) with REAL AVI container bytes per the
    ``synth_video_params`` contract (headers exact; empty frame chunks —
    avi_meta never reads frame data)."""
    return _synth_payload_frame(
        df, lambda mid: codecs.encode_avi(*synth_video_params(mid))
    )


def synth_mjpeg_params(media_id: int) -> tuple[int, int, int, int]:
    """id → (container_width, container_height, fps, n_frames) for the
    MJPEG fixtures — container dims shared with synth_video_params; a
    SMALL frame count (3 + id % 6) keeps the exploded frame table
    oracle-sized."""
    return (
        16 + (9 * media_id) % 128,
        16 + (5 * media_id) % 96,
        _SYNTH_FPS[media_id % 6],
        3 + media_id % 6,
    )


def synth_mjpeg_frame_dims(media_id: int, frame_idx: int) -> tuple[int, int]:
    """(id, frame_idx) → per-frame JPEG (width, height) contract shared
    with the SQL oracle: w = 8 + (9*id + 7*f) % 120;
    h = 8 + (5*id + 3*f) % 90."""
    return (
        8 + (9 * media_id + 7 * frame_idx) % 120,
        8 + (5 * media_id + 3 * frame_idx) % 90,
    )


def _mjpeg_payload(mid: int) -> bytes:
    w, h, fps, frames = synth_mjpeg_params(mid)
    jpegs = [
        codecs.encode_jpeg_header_only(*synth_mjpeg_frame_dims(mid, f))
        for f in range(frames)
    ]
    return codecs.encode_mjpeg_avi(w, h, fps, jpegs)


def synth_mjpeg_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload) with REAL MJPEG-in-AVI bytes: each
    '00dc' chunk is a structurally-valid JPEG marker stream whose SOF
    dims follow :func:`synth_mjpeg_frame_dims` — every field the frame
    walker reads is an integer function of (id, frame_idx), so the
    DuckDB oracle value-checks the whole exploded frame table."""
    return _synth_payload_frame(df, _mjpeg_payload)


VIDEO_FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("kind", StringType(), True),
        StructField("frame_bytes", LongType(), True),
        StructField("frame_width", IntegerType(), True),
        StructField("frame_height", IntegerType(), True),
    ]
)


def _video_frame_rows(payload: bytes, strict: bool) -> Iterator[tuple]:
    """(frame_idx, kind, frame_bytes, width, height) per movi chunk."""
    cw, ch, _, _ = codecs.avi_meta(payload)
    for idx, kind, body in codecs.avi_frames(payload):
        w = h = None
        try:
            if kind == "dc":
                w, h = codecs.jpeg_meta(body)
            elif kind == "db" and body:
                codecs.decode_dib_frame(body, cw, ch)
                w, h = cw, ch
        except ValueError:
            if strict:
                raise
        yield idx, kind, len(body), w, h


def extract_video_frames(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL per-frame video demux (the movi walk the frame-sample *plan*
    only estimates): one output row per video frame chunk with its codec
    kind, byte size, and dimensions — MJPEG ('dc') frames get per-frame
    dims from their own JPEG SOF header (``codecs.jpeg_meta``);
    uncompressed-DIB ('db') frames carry the
    container's strf dims (validated against the chunk's byte size).
    Frame BYTES never leave the kernel — only (id, idx, kind, size,
    dims) shuffle, so the op stays cheap at any video size. Empty 'db'
    chunks (the metadata-only fixtures) and frames whose header fails
    to parse yield null dims (raise under ``strict``).

    For real pixels (DIB and baseline-MJPEG frames both decode) use
    :func:`video_frame_ahash`. Non-AVI / malformed payloads raise under
    ``strict`` and are skipped otherwise (zero rows, see
    ``_explode_frame``)."""
    return _explode_frame(df, _video_frame_rows, VIDEO_FRAMES_SCHEMA, strict)


FRAME_AHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("ahash", LongType(), True),
    ]
)


def _frame_ahash_rows(payload: bytes, strict: bool) -> Iterator[tuple]:
    """(frame_idx, ahash) per decodable movi frame; the others raise
    under ``strict`` and are skipped otherwise."""
    cw, ch, _, _ = codecs.avi_meta(payload)
    for idx, kind, body in codecs.avi_frames(payload):
        try:
            if not body or kind not in ("db", "dc"):
                raise ValueError(
                    f"frame {idx}: no pixel decode for kind {kind!r}"
                )
            if kind == "db":
                arr = codecs.decode_dib_frame(body, cw, ch)
            else:
                arr = codecs.decode_jpeg(body)
        except ValueError:
            if strict:
                raise
            continue
        yield idx, _ahash_bits(_gray(arr))


def video_frame_ahash(df: DataFrame, strict: bool = False) -> DataFrame:
    """Per-frame perceptual hash over AVI payloads — REAL pixels
    end-to-end: movi walk → frame decode → grayscale → the same
    block-mean aHash images use. Uncompressed-DIB ('db') frames decode
    via the BMP pixel-array layout; MJPEG ('dc') frames via the JPEG
    entropy decoder (``codecs.decode_jpeg`` — baseline AND progressive).
    Output (media_id, frame_idx, ahash) feeds ``dedup.hamming_pairs``
    for video near-dup (shot duplication, re-encoded clips) with the
    banded plan text SimHash uses.
    Undecodable frames (truncated bodies, arithmetic-coded JPEG) are
    skipped (raise under ``strict``)."""
    return _explode_frame(df, _frame_ahash_rows, FRAME_AHASH_SCHEMA, strict)


# Haitsma–Kalker analysis framing: Hann window and hop in samples, and
# band count (n_bands - 1 = 64 bits per sub-fingerprint, one signed long)
_FP_FRAME_LEN = 2048
_FP_HOP = 1024
_FP_BANDS = 65


def _audio_fp_bits(mono: np.ndarray, rate: int) -> list[int]:
    """Haitsma–Kalker robust audio fingerprint (ISMIR 2002): Hann-
    windowed frames → power spectrum → ``_FP_BANDS`` log-spaced band
    energies → bit b of frame t is the sign of the band/time double
    difference (E[t,b]−E[t,b+1]) − (E[t−1,b]−E[t−1,b+1]). 64 bits per
    sub-fingerprint, packed into a signed long so the same
    Manku-banded ``dedup.hamming_pairs`` plan pairs audio, images, and
    text. One deviation from the paper: the sign test uses a small
    energy floor (1e−4 of the frame pair's total energy) instead of a
    strict >0 — bands with no signal would otherwise emit noise-random
    bits and a clip's re-encode could land far outside the Hamming
    ball."""
    n = len(mono)
    if n < 2 * _FP_FRAME_LEN:
        return []
    window = np.hanning(_FP_FRAME_LEN)
    starts = range(0, n - _FP_FRAME_LEN + 1, _FP_HOP)
    spec = np.stack(
        [
            np.abs(np.fft.rfft(mono[s : s + _FP_FRAME_LEN] * window)) ** 2
            for s in starts
        ]
    )
    f_lo, f_hi = 100.0, min(rate / 2.0, 3000.0)
    edges = np.geomspace(f_lo, f_hi, _FP_BANDS + 1)
    bin_hz = rate / _FP_FRAME_LEN
    idx = np.clip((edges / bin_hz).astype(int), 0, spec.shape[1] - 1)
    bands = np.stack(
        [
            spec[:, idx[b] : max(idx[b + 1], idx[b] + 1)].sum(axis=1)
            for b in range(_FP_BANDS)
        ],
        axis=1,
    )  # (n_frames, n_bands)
    d = bands[:, :-1] - bands[:, 1:]          # band difference
    dd = d[1:] - d[:-1]                        # time double-difference
    floor = 1e-4 * (
        bands[1:].sum(axis=1) + bands[:-1].sum(axis=1)
    )
    bits = dd > floor[:, None]
    return [_pack_signed64(row) for row in bits]


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("fp", LongType(), True),
    ]
)


# last frame_neardup_pairs pin — released on the NEXT call (see below)
_NEARDUP_PIN: list = [None]


def frame_neardup_pairs(
    frame_hashes: DataFrame,
    max_hamming: int = 3,
    stride: int = 1_000_000,
) -> DataFrame:
    """Clip-level near-dup rollup shared by video frame aHash and audio
    fingerprints: frame-level Manku-banded Hamming pairing
    (``dedup.hamming_pairs`` — the same plan text SimHash and image
    aHash use) on aligned frame indices, then CONTAINMENT semantics at
    the clip level — a pair (a, b) reports when every frame of the
    SHORTER clip matched (least(n_a, n_b)), so a clip embedded in a
    longer one is still found regardless of which id sorts lower.

    ``frame_hashes`` is (media_id, frame_idx, hash) with any hash
    column name third. Frame identity packs as media_id·stride +
    frame_idx; an in-plan guard fails loudly if any frame_idx reaches
    ``stride`` (silent aliasing would attribute matches to the wrong
    clip). The input frame is persisted for the duration of the rollup:
    it feeds the banded self-join (two reads) plus the per-clip frame
    counts, and without pinning, an upstream decode pipeline would run
    ~4x."""
    id_col, frame_col, hash_col = frame_hashes.columns[:3]
    # Single-slot pin (r10 ADVICE): unpersist() here would eagerly drop
    # the marker before the query ever runs (the cache populates at the
    # first action), and never unpersisting leaked one cache entry per
    # invocation across driver rounds. Instead each call releases the
    # PREVIOUS call's pin — by then that plan has been materialized and
    # consumed — so the session holds at most one rollup cache entry.
    prev = _NEARDUP_PIN[0]
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # prior session/context already gone
    pinned = frame_hashes.persist()
    _NEARDUP_PIN[0] = pinned
    guarded_idx = F.when(
        F.col(frame_col) >= F.lit(stride),
        F.raise_error(
            F.concat(
                F.lit(f"frame_idx >= stride {stride} aliases clip ids: "),
                F.col(frame_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col(frame_col))
    frame_ids = pinned.select(
        (F.col(id_col) * stride + guarded_idx).alias("id"),
        F.col(hash_col).alias("simhash"),
    )
    from etl_excel_csv_sql_spark.operators import dedup

    pairs = dedup.hamming_pairs(frame_ids, max_hamming=max_hamming)
    aligned = pairs.select(
        (F.col("id_a") / stride).cast("long").alias("clip_a"),
        (F.col("id_a") % stride).alias("f_a"),
        (F.col("id_b") / stride).cast("long").alias("clip_b"),
        (F.col("id_b") % stride).alias("f_b"),
    ).where(
        (F.col("f_a") == F.col("f_b")) & (F.col("clip_a") != F.col("clip_b"))
    )
    counts = pinned.groupBy(F.col(id_col).alias("clip")).agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    matched = aligned.groupBy("clip_a", "clip_b").agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    out = (
        matched.join(
            counts.select(
                F.col("clip").alias("clip_a"),
                F.col("n_frames").alias("n_a"),
            ),
            "clip_a",
        )
        .join(
            counts.select(
                F.col("clip").alias("clip_b"),
                F.col("n_frames").alias("n_b"),
            ),
            "clip_b",
        )
        .where(F.col("n_matched") >= F.least(F.col("n_a"), F.col("n_b")))
        .select("clip_a", "clip_b", "n_matched")
        .orderBy("clip_a", "clip_b")
    )
    return out


def _audio_fp_rows(payload: bytes, strict: bool) -> Iterator[tuple]:
    """(frame_idx, fp) per sub-fingerprint of the channel-mean PCM."""
    pcm, rate = codecs.decode_wav(payload)
    fps = _audio_fp_bits(pcm.astype(np.float64).mean(axis=1), rate)
    if not fps and strict:
        raise ValueError("clip shorter than two analysis frames")
    return enumerate(fps)


def audio_fingerprints(df: DataFrame, strict: bool = False) -> DataFrame:
    """Per-frame spectral fingerprints over RIFF-WAVE payloads — real
    PCM decode (``codecs.decode_wav``) → channel mean → Haitsma–Kalker
    sub-fingerprints (:func:`_audio_fp_bits`). Output (media_id,
    frame_idx, fp) feeds ``dedup.hamming_pairs`` for audio near-dup
    (re-encodes, transmission noise) exactly like image aHash and video
    frame hashes — the third modality on the one banded pairing plan.
    PCM never leaves the Arrow kernel; only (id, idx, 64-bit fp)
    shuffle. Non-WAV / non-PCM16 payloads and clips shorter than two
    analysis frames yield zero rows (raise under ``strict``)."""
    return _explode_frame(df, _audio_fp_rows, AUDIO_FP_SCHEMA, strict)


#: samples per synth_audio_fp_payloads clip (8 kHz mono)
_FP_FIXTURE_SAMPLES = 8192


def synth_audio_fp_payloads(
    df: DataFrame,
    id_offset: int = 0,
    perturb: bool = False,
    remux: bool = False,
    n_samples: int = _FP_FIXTURE_SAMPLES,
) -> DataFrame:
    """(id) → (media_id, payload): mono PCM16 WAV clips purpose-built
    for fingerprint tests — a stack of four id-keyed CHIRPED sinusoids
    (each sweeps 30% of its base frequency across the clip) with
    id-keyed amplitude modulation: non-stationary, temporally
    correlated spectra — the signal class Haitsma–Kalker assumes;
    stationary tones would give every frame the same bits and let
    single-frame collisions masquerade as whole-clip dups.
    ``perturb=True`` adds deterministic ±1%-amplitude noise (re-encode
    stand-in); ``remux=True`` instead re-wraps the SAME PCM in a
    byte-different container (codecs.remux_wav) — fingerprints exactly
    equal, the closed-form twin the oracled near-dup query uses. Twin
    ids are original + ``id_offset``."""

    def build(mid: int) -> bytes:
        t = np.arange(n_samples, dtype=np.float64) / 8000
        sig = np.zeros(n_samples)
        for k in range(4):
            # md5-keyed base frequency: a linear keying
            # (mid*991 + 631k) % 2600 COLLIDES for ids 2600 apart —
            # 2600 is a multiple of the query's id % 50 stride, so at
            # sf0.1 two different docs would share every chirp and
            # their fingerprints match at every aligned frame (a false
            # clip pair)
            f0 = 150.0 + (
                int.from_bytes(
                    hashlib.md5(f"afp:{mid}:{k}".encode()).digest()[:4],
                    "big",
                )
                % 2600
            )
            freq = f0 * (0.85 + 0.3 * t / t[-1])
            phase = 2 * np.pi * np.cumsum(freq) / 8000
            env = 0.6 + 0.4 * np.sin(
                2 * np.pi * (0.4 + ((mid * 13 + 5 * k) % 9) / 6.0) * t
            )
            sig += env * np.sin(phase)
        sig *= 6000.0
        if perturb:
            rng = np.random.default_rng(mid)
            sig += rng.uniform(-60.0, 60.0, n_samples)
        pcm = np.clip(sig, -32768, 32767).astype(np.int16)
        wav = codecs.encode_wav(pcm, 8000, 1)
        return codecs.remux_wav(wav) if remux else wav

    return _synth_payload_frame(df, build).withColumn(
        "media_id", F.col("media_id") + id_offset
    )


def synth_audio_params(media_id: int) -> tuple[int, int, int]:
    """id → (sample_rate, n_channels, n_frames) contract shared with the
    SQL oracle: rate = 8000 * (1 + id % 6); channels = 1 + id % 2;
    n_frames = 256 + (id % 64) * 16."""
    return 8000 * (1 + media_id % 6), 1 + media_id % 2, 256 + (media_id % 64) * 16


def _audio_payload(mid: int) -> bytes:
    rate, ch, frames = synth_audio_params(mid)
    n = np.arange(frames * ch, dtype=np.int64)
    pcm = ((n * (3 + mid % 17)) % 251 - 125).astype(np.int16)
    return codecs.encode_wav(pcm.reshape(frames, ch), rate, ch)


def synth_audio_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload) with REAL RIFF-WAVE PCM16 bytes per the
    ``synth_audio_params`` contract (deterministic int16 sawtooth)."""
    return _synth_payload_frame(df, _audio_payload)


AHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ahash", LongType(), True),
    ]
)


def _gray(arr: np.ndarray) -> np.ndarray:
    """Decoded pixels → float64 2-D grayscale (channel mean)."""
    arr = arr.astype(np.float64)
    return arr.mean(axis=2) if arr.ndim == 3 else arr


def _block_means(gray: np.ndarray, n: int) -> np.ndarray:
    """n×n block means of a 2-D array via an integral image (robust to
    per-pixel noise, unlike nearest-neighbor picking); when a dim is
    below n, degenerate cells borrow the next boundary."""
    h, w = gray.shape
    ii = np.zeros((h + 1, w + 1), dtype=np.float64)
    ii[1:, 1:] = gray.astype(np.float64).cumsum(axis=0).cumsum(axis=1)
    ys = np.minimum(np.maximum((np.arange(n + 1) * h) // n, np.arange(n + 1)), h)
    xs = np.minimum(np.maximum((np.arange(n + 1) * w) // n, np.arange(n + 1)), w)
    y0, y1 = ys[:-1], ys[1:]
    x0, x1 = xs[:-1], xs[1:]
    areas = np.maximum(
        (y1 - y0)[:, None] * (x1 - x0)[None, :], 1
    ).astype(np.float64)
    sums = (
        ii[y1[:, None], x1[None, :]]
        - ii[y0[:, None], x1[None, :]]
        - ii[y1[:, None], x0[None, :]]
        + ii[y0[:, None], x0[None, :]]
    )
    return sums / areas


def _pack_signed64(bits) -> int:
    """Up to 64 bits, MSB first → a two's-complement Spark LongType."""
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    return val - (1 << 64) if val >= 1 << 63 else val


def _ahash_bits(gray: np.ndarray) -> int:
    """Block-mean average hash of a 2-D grayscale array: 8×8 block means,
    thresholded at the global cell mean, packed row-major MSB-first."""
    cells = _block_means(gray, 8)
    return _pack_signed64((cells > cells.mean()).ravel())


def ahash_images(df: DataFrame, strict: bool = False) -> DataFrame:
    """Perceptual average-hash (aHash) per image: decode (real stdlib
    BMP/PNG/PPM codecs) → grayscale → block-mean downsample to 8×8 →
    threshold at the mean → 64-bit fingerprint. The image
    twin of text SimHash: visually-near-identical images (re-encodes,
    slight noise, small edits) land within a small Hamming distance, so
    ``dedup.hamming_pairs`` finds image near-duplicates with the SAME
    banded plan text dedup uses — no new shuffle machinery.

    Arrow-batched mapInPandas (never per-row Python UDF); payloads stay
    in executors, only (id, 64-bit hash) ever shuffles. Null or
    undecodable payloads yield NULL (or raise when ``strict``).
    """
    return _extract_meta_frame(
        df, lambda b: (_ahash_bits(_gray(codecs.decode_image(b)[1])),),
        ("ahash",), AHASH_SCHEMA, strict,
    )


def _perturbed_image_payload(mid: int) -> bytes:
    fmt, w, h = synth_image_dims(mid)
    arr = _synth_pixels(mid, w, h).astype(np.int16)
    arr[::5, ::7, :] += 2
    arr[1::6, 2::5, :] -= 2
    # Wrap (mod 256), do NOT clip: _synth_pixels colors are the
    # 256-member family (v, v+31, v+62) mod 256, and a clipped channel
    # leaves that family — encode_gif (exact 256-color palette) would
    # then reject the twin for GIF-designated ids. Wrapping maps each
    # noisy pixel to family member (v±2) mod 256, keeping every format
    # encodable.
    return codecs.encode_image((arr % 256).astype(np.uint8), fmt)


def perturbed_image_payloads(df: DataFrame) -> DataFrame:
    """Near-duplicate twins of :func:`synth_image_payloads`: same synth
    pixels per the id contract, plus ±2 noise on a sparse pixel grid —
    visually the same image (a re-encode/transmission-noise stand-in),
    so each twin must land within a small Hamming ball of its original.
    Twin ids are original + 1,000,000."""
    return _synth_payload_frame(df, _perturbed_image_payload).withColumn(
        "media_id", F.col("media_id") + 1_000_000
    )


def synth_dib_video_params(media_id: int) -> tuple[int, int, int, int]:
    """id → (width, height, fps, n_frames) for the uncompressed-DIB
    fixtures — SMALL dims (pixels are real and uncompressed, so payload
    bytes = w*h*3*frames): w = 16 + (7*id) % 48; h = 16 + (5*id) % 36;
    fps from the shared list; n_frames = 3 + id % 4."""
    return (
        16 + (7 * media_id) % 48,
        16 + (5 * media_id) % 36,
        _SYNTH_FPS[media_id % 6],
        3 + media_id % 4,
    )


def synth_dib_video_payloads(
    df: DataFrame,
    id_offset: int = 0,
    perturb: bool = False,
) -> DataFrame:
    """(id) → (media_id, payload) with REAL uncompressed-DIB AVI bytes:
    frame f's pixels are ``_synth_pixels(id*100 + f, w, h)`` per the
    :func:`synth_dib_video_params` contract — fully decodable video.
    ``perturb=True`` adds the image twins' sparse ±2 noise grid (a
    re-encode stand-in for video near-dup tests) — here CLIPPED at
    0/255 rather than wrapped: DIB frames are raw RGB with no palette,
    so the clip is harmless, while the image twins must wrap to stay
    inside the GIF-encodable color family. Twin ids are original +
    ``id_offset``."""

    def build(mid: int) -> bytes:
        w, h, fps, n = synth_dib_video_params(mid)
        frames = []
        for f in range(n):
            arr = _synth_pixels(mid * 100 + f, w, h)
            if perturb:
                arr = arr.astype(np.int16)
                arr[::5, ::7, :] += 2
                arr[1::6, 2::5, :] -= 2
                arr = np.clip(arr, 0, 255).astype(np.uint8)
            frames.append(arr)
        return codecs.encode_dib_avi(w, h, fps, frames)

    return _synth_payload_frame(df, build).withColumn(
        "media_id", F.col("media_id") + id_offset
    )


# --- closed-form perceptual-hash fixtures ---------------------------------
#
# The gradient+noise twins prove ROBUSTNESS (kept in pytest), but their
# hash distances are not closed-form, so the near-dup queries were
# rows-only. These fixtures make the whole pipeline output an integer
# function of doc_id — the media_video_frames pattern applied to hashes:
#
#  * grid images: 64x64 built from an 8x8 grid of uniform 0/255 blocks
#    keyed by md5(key, id). aHash's block means hit the blocks EXACTLY
#    (64/8 integral-image cells of one block each), every cell is 0 or
#    255, and the global mean lies strictly between (both polarities are
#    forced present), so the aHash EQUALS the designed pattern bit-for-
#    bit and a twin that flips k designated blocks is at Hamming
#    distance EXACTLY k — provable, no margin arithmetic.
#  * format-shift twins: same pixels encoded by a DIFFERENT lossless
#    codec (bmp/png/ppm/gif/tiff cycle) — decode is bit-identical, so ANY
#    deterministic hash (pHash included) is EXACTLY equal: the
#    cross-format re-encode near-dup class with distance closed-form 0.
#  * remux audio twins (codecs.remux_wav): byte-different container,
#    bit-identical PCM — fingerprints exactly equal.
#
# Cross-pair safety (no non-twin pair within the Hamming ball) is a
# property of the md5 pattern family over the actual id set; pytest
# recomputes the patterns in pure Python over the REAL sf0.01 id sample
# and asserts the minimum cross distance clears the ball with margin.

GRID_FLIP_BITS = 2  # designed twin distance for the aHash near-dup query


def grid_pattern64(media_id: int, key: str = "gridimg", flip_bits: int = 0) -> int:
    """The id → 64-bit pattern contract for the grid-image fixtures
    (UNSIGNED; row-major cell (r, c) is bit 63-(8r+c), matching
    _ahash_bits' MSB-first packing). Bit of cell (0,0) is forced 1 and
    cell (7,7) forced 0 so both polarities always exist — the aHash
    threshold (global mean) then sits strictly between 0 and 255 before
    AND after twin flips. ``flip_bits`` flips cells (0,1)..(0,flip_bits),
    never the two forced cells, so twin distance is exactly flip_bits."""
    digest = hashlib.md5(f"{key}:{media_id}".encode()).digest()[:8]
    val = int.from_bytes(digest, "big")
    val |= 1 << 63  # cell (0,0) = 1
    val &= ~1       # cell (7,7) = 0
    for i in range(1, flip_bits + 1):
        val ^= 1 << (63 - i)
    return val


def _grid_pixels(pattern: int) -> np.ndarray:
    """64-bit pattern → 64x64x3 uint8: cell (r, c) is a uniform 8x8
    block of 0 or 255 on all three channels (channel order irrelevant
    to the grayscale mean)."""
    bits = np.array(
        [(pattern >> (63 - i)) & 1 for i in range(64)], dtype=np.uint8
    ).reshape(8, 8)
    return np.repeat(
        np.repeat(bits * np.uint8(255), 8, axis=0), 8, axis=1
    )[:, :, None].repeat(3, axis=2)


def synth_grid_image_payloads(
    df: DataFrame,
    id_offset: int = 0,
    flip_bits: int = 0,
    key: str = "gridimg",
    fmt_shift: int = 0,
) -> DataFrame:
    """(id) → (media_id, payload): REAL encoded BMP/PNG/PPM bytes whose
    aHash is EXACTLY :func:`grid_pattern64` (signed) — see the contract
    note above. ``fmt_shift`` rotates the codec cycle (same pixels,
    different container = the re-encode twin for pHash); ``flip_bits``
    makes aHash twins at exact Hamming distance flip_bits."""

    def build(mid: int) -> bytes:
        arr = _grid_pixels(grid_pattern64(mid, key, flip_bits))
        return codecs.encode_image(arr, _SYNTH_FMTS[(mid + fmt_shift) % 5])

    return _synth_payload_frame(df, build).withColumn(
        "media_id", F.col("media_id") + id_offset
    )


def synth_grid_dib_video_payloads(
    df: DataFrame,
    id_offset: int = 0,
    flip_bits: int = 0,
) -> DataFrame:
    """(id) → (media_id, payload): REAL uncompressed-DIB AVI clips whose
    per-frame aHash is EXACTLY ``grid_pattern64(id, f'gridvid:{f}')`` —
    64x64 grid frames, n_frames = 3 + id % 4 (the synth_dib_video_params
    frame-count contract), fps from the shared list. A ``flip_bits``
    twin flips the same designated cells in EVERY frame, so each aligned
    frame pair is at exact distance flip_bits and the clip rollup's
    n_matched is exactly the frame count."""

    def build(mid: int) -> bytes:
        frames = [
            _grid_pixels(grid_pattern64(mid, f"gridvid:{f}", flip_bits))
            for f in range(3 + mid % 4)
        ]
        return codecs.encode_dib_avi(64, 64, _SYNTH_FPS[mid % 6], frames)

    return _synth_payload_frame(df, build).withColumn(
        "media_id", F.col("media_id") + id_offset
    )


def synth_grid_mjpeg_video_payloads(
    df: DataFrame,
    id_offset: int = 0,
    flip_bits: int = 0,
) -> DataFrame:
    """(id) → (media_id, payload): REAL baseline-MJPEG AVI clips with
    the SAME per-frame contract as :func:`synth_grid_dib_video_payloads`
    — aHash of frame f is EXACTLY ``grid_pattern64(id, f'gridvid:{f}')``.
    The grid's 8-px cells align with JPEG's 8x8 DCT blocks, so each
    block is DC-only and quantization moves every pixel of a cell by the
    same bounded amount; the threshold (global cell mean) still splits
    the polarities exactly, hence the hash is LOSSLESS through the lossy
    codec (verified over quality x subsampling x restart in
    tests/test_multimodal.py). Encoder settings cycle per id —
    quality 75/85/90, 4:4:4 / 4:2:2 / 4:2:0, restart interval 0/2 —
    so the corpus exercises every entropy-decoder path, not one happy
    path. Same n_frames / fps / twin-flip contracts as the DIB variant,
    so the two queries share one value oracle while covering the two
    decode branches of ``video_frame_ahash``."""

    def build(mid: int) -> bytes:
        quality = (75, 85, 90)[mid % 3]
        sub = ("4:4:4", "4:2:2", "4:2:0")[(mid // 3) % 3]
        # keyed by mid // 9, not mid % 2: the registry query samples
        # doc_id % 50 == 0 (all even), which under a parity key would
        # NEVER exercise restart markers in the registered query's
        # corpus; // 9 cycles for both the pytest ids (0..17) and the
        # 50-strided registry ids
        restart = (0, 2)[(mid // 9) % 2]
        frames = [
            codecs.encode_jpeg_baseline(
                _grid_pixels(grid_pattern64(mid, f"gridvid:{f}", flip_bits)),
                quality=quality,
                subsampling=sub,
                restart_interval=restart,
            )
            for f in range(3 + mid % 4)
        ]
        return codecs.encode_mjpeg_avi(64, 64, _SYNTH_FPS[mid % 6], frames)

    return _synth_payload_frame(df, build).withColumn(
        "media_id", F.col("media_id") + id_offset
    )


_MP3_SYNTH_BITRATES = (
    32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
_MP3_SYNTH_RATES = (44100, 48000, 32000)


def synth_mp3_params(media_id: int) -> tuple[int, int, int, bool]:
    """id → (bitrate_kbps, sample_rate, n_frames, has_id3) contract
    shared with the SQL oracle: bitrate cycles the 14 MPEG-1 Layer III
    rates by id % 14; sample rate by id % 3; n_frames = 5 + id % 40;
    every 4th clip carries an ID3v2 tag."""
    return (
        _MP3_SYNTH_BITRATES[media_id % 14],
        _MP3_SYNTH_RATES[media_id % 3],
        5 + media_id % 40,
        media_id % 4 == 0,
    )


def _mp3_payload(mid: int) -> bytes:
    kbps, sr, nf, id3 = synth_mp3_params(mid)
    return codecs.encode_mp3_headers(
        nf, kbps, sr, id3_title=f"clip-{mid}" if id3 else None
    )


def synth_mp3_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): structurally valid MPEG-1 Layer III
    streams per the ``synth_mp3_params`` contract (real frame headers
    and lengths, zeroed main data — the metadata surface is real; audio
    ENCODING is out of scope by design, like image psychovisual
    tuning)."""
    return _synth_payload_frame(df, _mp3_payload)


MP3_META_SCHEMA = (
    "media_id long, bitrate_kbps int, sample_rate int, n_frames int, "
    "duration_ms long, has_id3 boolean"
)


def extract_mp3_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL MP3 metadata (MPEG-1 Layer III frame-header walk —
    ``codecs.mp3_meta``: per-frame header parse, VBR-mean bitrate, ID3v2
    skip, ID3v1 tolerance) via Arrow mapInPandas. Undecodable payloads
    yield nulls unless ``strict`` — the audio-crawl analog of the image
    metadata kernel (duration/bitrate stats, sample-rate routing)."""
    return _extract_meta_frame(
        df, codecs.mp3_meta,
        ("bitrate_kbps", "sample_rate", "n_frames", "duration_ms",
         "has_id3"),
        MP3_META_SCHEMA, strict,
    )


_MP4_BRANDS = ("isom", "mp42", "avc1")
_MP4_TIMESCALES = (600, 1000, 90000, 48000)
_MP4_VCODECS = ("avc1", "hev1", "mp4v")


def synth_mp4_params(
    media_id: int,
) -> tuple[str, int, int, int, bool, str, int, int]:
    """id → (brand, timescale, duration_units, n_tracks, has_video,
    vcodec, width, height) contract shared with the SQL oracle — every
    field is integer arithmetic on the id. Clips with id % 4 == 1 are
    audio-only (no video trak → NULL dims/codec downstream)."""
    ts = _MP4_TIMESCALES[media_id % 4]
    return (
        _MP4_BRANDS[media_id % 3],
        ts,
        ts * (1 + media_id % 30) + media_id % 97,
        1 + media_id % 3,
        media_id % 4 != 1,
        _MP4_VCODECS[(media_id % 5) % 3],
        160 + 8 * (media_id % 120),
        120 + 8 * (media_id % 68),
    )


def _mp4_payload(mid: int) -> bytes:
    brand, ts, dur, n_tracks, has_video, vc, w, h = synth_mp4_params(mid)
    tracks: list[dict] = []
    if has_video:
        tracks.append(
            {"handler": "vide", "codec": vc, "width": w, "height": h}
        )
    while len(tracks) < n_tracks:
        tracks.append({"handler": "soun", "codec": "mp4a"})
    return codecs.encode_mp4_headers(brand, ts, dur, tracks)


def synth_mp4_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): structurally valid ISO-BMFF files per
    the ``synth_mp4_params`` contract (real ftyp/moov/trak box tree,
    empty mdat — the container-metadata surface is real; H.264 sample
    ENCODING is out of scope by design, like MP3 main data)."""
    return _synth_payload_frame(df, _mp4_payload)


MP4_META_SCHEMA = (
    "media_id long, major_brand string, timescale int, duration_ms long, "
    "n_tracks int, width int, height int, video_codec string"
)


def extract_mp4_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL MP4/MOV container metadata (ISO-BMFF box walk —
    ``codecs.mp4_meta``: ftyp brand, mvhd timescale/duration, trak
    census, first video trak's tkhd dims + stsd codec fourcc) via Arrow
    mapInPandas. Undecodable payloads yield nulls unless ``strict`` —
    the catalog/routing kernel for the container a real 100 TB video
    corpus is actually stored in; pixel decode (H.264) stays a GPU-
    stage concern, not an ingest concern."""
    return _extract_meta_frame(
        df, codecs.mp4_meta,
        ("major_brand", "timescale", "duration_ms", "n_tracks",
         "width", "height", "video_codec"),
        MP4_META_SCHEMA, strict,
    )


_FLAC_RATES = (44100, 48000, 32000, 96000, 88200, 192000)
_FLAC_BITS = (8, 16, 24, 32)


def synth_flac_params(media_id: int) -> tuple[int, int, int, int, bool]:
    """id → (sample_rate, channels, bits_per_sample, total_samples,
    has_comment) contract shared with the SQL oracle; every 3rd clip
    carries a VORBIS_COMMENT block (exercises the skip walk)."""
    rate = _FLAC_RATES[media_id % 6]
    return (
        rate,
        1 + media_id % 8,
        _FLAC_BITS[media_id % 4],
        rate * (1 + media_id % 20) + media_id % 1000,
        media_id % 3 == 0,
    )


def _flac_payload(mid: int) -> bytes:
    rate, ch, bits, total, vc = synth_flac_params(mid)
    return codecs.encode_flac_headers(
        rate, ch, bits, total,
        vorbis_comment=f"title=clip-{mid}" if vc else None,
    )


def synth_flac_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): real fLaC metadata chains per the
    ``synth_flac_params`` contract (STREAMINFO bitfields + optional
    VORBIS_COMMENT; Rice-coded audio frames out of scope by design)."""
    return _synth_payload_frame(df, _flac_payload)


FLAC_META_SCHEMA = (
    "media_id long, sample_rate int, channels int, bits_per_sample int, "
    "total_samples long, duration_ms long, has_comment boolean"
)


def extract_flac_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL FLAC metadata (STREAMINFO bitfield parse + metadata-block
    walk — ``codecs.flac_meta``) via Arrow mapInPandas; undecodable
    payloads yield nulls unless ``strict``. Completes the compressed-
    audio pair with :func:`extract_mp3_meta`."""
    return _extract_meta_frame(
        df, codecs.flac_meta,
        ("sample_rate", "channels", "bits_per_sample", "total_samples",
         "duration_ms", "has_comment"),
        FLAC_META_SCHEMA, strict,
    )


_ADTS_PROFILE_CYCLE = ("main", "lc", "ssr")


def synth_aac_params(media_id: int) -> tuple[str, int, int, int, bool]:
    """id → (profile, sample_rate, channels, n_frames, has_crc) contract
    shared with the SQL oracle; every 4th clip carries the 9-byte
    CRC-protected header form (exercises both header widths)."""
    from etl_excel_csv_sql_spark.operators.codecs import _ADTS_RATES

    return (
        _ADTS_PROFILE_CYCLE[media_id % 3],
        _ADTS_RATES[media_id % 13],
        1 + media_id % 7,
        1 + media_id % 40,
        media_id % 4 == 0,
    )


def _adts_payload(mid: int) -> bytes:
    prof, rate, ch, nf, crc = synth_aac_params(mid)
    return codecs.encode_adts_frames(nf, rate, ch, profile=prof, crc=crc)


def synth_aac_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): structurally valid ADTS streams per
    the ``synth_aac_params`` contract (real frame headers with correct
    lengths; raw AAC payload encoding out of scope by design, like MP3
    main data)."""
    return _synth_payload_frame(df, _adts_payload)


AAC_META_SCHEMA = (
    "media_id long, profile string, sample_rate int, channels int, "
    "n_frames int, duration_ms long, has_crc boolean"
)


def extract_aac_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL AAC metadata (ADTS frame-header walk —
    ``codecs.aac_adts_meta``) via Arrow mapInPandas; undecodable
    payloads yield nulls unless ``strict``. Completes the compressed-
    audio trio with :func:`extract_mp3_meta` / :func:`extract_flac_meta`."""
    return _extract_meta_frame(
        df, codecs.aac_adts_meta,
        ("profile", "sample_rate", "channels", "n_frames", "duration_ms",
         "has_crc"),
        AAC_META_SCHEMA, strict,
    )


_WEBM_TIMESCALES = (1_000_000, 500_000, 2_000_000, 100_000)
_WEBM_VCODECS = ("V_VP8", "V_VP9", "V_AV1")
_WEBM_DOCTYPES = ("webm", "matroska")


def synth_webm_params(
    media_id: int,
) -> tuple[str, int, int, int, bool, str, int, int]:
    """id → (doc_type, timescale_ns, duration_ticks, n_tracks,
    has_video, vcodec, width, height) contract shared with the SQL
    oracle — the EBML twin of ``synth_mp4_params`` (same audio-only
    residue id % 4 == 1, same dim arithmetic)."""
    return (
        _WEBM_DOCTYPES[media_id % 2],
        _WEBM_TIMESCALES[media_id % 4],
        1000 * (1 + media_id % 30) + media_id % 97,
        1 + media_id % 3,
        media_id % 4 != 1,
        _WEBM_VCODECS[(media_id % 5) % 3],
        160 + 8 * (media_id % 120),
        120 + 8 * (media_id % 68),
    )


def _webm_payload(mid: int) -> bytes:
    dt, ts, ticks, n_tracks, has_video, vc, w, h = synth_webm_params(mid)
    tracks: list[dict] = []
    if has_video:
        tracks.append(
            {"handler": "vide", "codec": vc, "width": w, "height": h}
        )
    while len(tracks) < n_tracks:
        tracks.append({"handler": "soun", "codec": "A_OPUS"})
    return codecs.encode_webm_headers(dt, ts, ticks, tracks)


def synth_webm_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): structurally valid EBML trees per the
    ``synth_webm_params`` contract (real EBML header/Segment/Info/Tracks
    vint encoding; Clusters — VP8/VP9 frame data — out of scope by
    design, like the empty mdat in the MP4 fixture)."""
    return _synth_payload_frame(df, _webm_payload)


WEBM_META_SCHEMA = (
    "media_id long, doc_type string, timescale_ns long, duration_ms long, "
    "n_tracks int, width int, height int, video_codec string"
)


def extract_webm_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL WebM/Matroska container metadata (EBML element walk —
    ``codecs.webm_meta``: DocType, TimestampScale + Duration, track
    census, first video track's CodecID + pixel dims) via Arrow
    mapInPandas; undecodable payloads yield nulls unless ``strict``.
    The open-web container twin of :func:`extract_mp4_meta`."""
    return _extract_meta_frame(
        df, codecs.webm_meta,
        ("doc_type", "timescale_ns", "duration_ms", "n_tracks",
         "width", "height", "video_codec"),
        WEBM_META_SCHEMA, strict,
    )


_WEBP_FORMATS = ("lossy", "lossless", "extended")


def synth_webp_params(media_id: int) -> tuple[str, int, int, bool, bool]:
    """id → (format, width, height, has_alpha, has_animation) contract
    shared with the SQL oracle — lossy VP8 has no alpha bit, animation
    exists only on the extended form."""
    fmt = _WEBP_FORMATS[media_id % 3]
    return (
        fmt,
        16 + (media_id % 120) * 8,
        16 + (media_id % 68) * 8,
        media_id % 2 == 0 and fmt != "lossy",
        fmt == "extended" and media_id % 5 == 0,
    )


def _webp_payload(mid: int) -> bytes:
    fmt, w, h, alpha, anim = synth_webp_params(mid)
    return codecs.encode_webp_headers(fmt, w, h, alpha=alpha, animation=anim)


def synth_webp_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): structurally valid WebP RIFF headers
    per the ``synth_webp_params`` contract (VP8/VP8L bitstream payload
    out of scope by design)."""
    return _synth_payload_frame(df, _webp_payload)


WEBP_META_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "has_alpha boolean, has_animation boolean"
)


def extract_webp_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL WebP metadata (RIFF VP8/VP8L/VP8X header parse —
    ``codecs.webp_meta``) via Arrow mapInPandas; undecodable payloads
    yield nulls unless ``strict``. Joins the image-container family
    (BMP/PNG/PPM/GIF/JPEG/TIFF)."""
    return _extract_meta_frame(
        df, codecs.webp_meta,
        ("format", "width", "height", "has_alpha", "has_animation"),
        WEBP_META_SCHEMA, strict,
    )


_OGG_RATES = (48000, 44100, 16000, 8000)


def synth_ogg_params(media_id: int) -> tuple[int, int, int, int, int]:
    """id → (channels, pre_skip, input_sample_rate, n_audio_pages,
    samples) contract shared with the SQL oracle (total page count =
    audio pages + the OpusHead and OpusTags header pages)."""
    return (
        1 + media_id % 8,
        312 + media_id % 100,
        _OGG_RATES[media_id % 4],
        1 + media_id % 9,
        48000 * (1 + media_id % 10) + media_id % 997,
    )


def _ogg_payload(mid: int) -> bytes:
    ch, ps, ir, npg, samp = synth_ogg_params(mid)
    return codecs.encode_ogg_opus(ch, ps, ir, npg, samp)


def synth_ogg_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): real Ogg page chains carrying an
    OpusHead/OpusTags header pair and granule-positioned audio pages
    per the ``synth_ogg_params`` contract (Opus frame encoding out of
    scope by design)."""
    return _synth_payload_frame(df, _ogg_payload)


OGG_META_SCHEMA = (
    "media_id long, channels int, pre_skip int, input_sample_rate long, "
    "n_pages int, duration_ms long"
)


def extract_ogg_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL Ogg/Opus metadata (page walk + OpusHead parse —
    ``codecs.ogg_opus_meta``) via Arrow mapInPandas; undecodable
    payloads yield nulls unless ``strict``. The fourth compressed-audio
    container next to MP3/FLAC/AAC."""
    return _extract_meta_frame(
        df, codecs.ogg_opus_meta,
        ("channels", "pre_skip", "input_sample_rate", "n_pages",
         "duration_ms"),
        OGG_META_SCHEMA, strict,
    )


#: mixed-corpus fixture cycle: container family by id % 7 — the seven
#: header-walk families (image pixel formats keep their own fixtures)
_MIXED_FAMILIES = ("mp3", "mp4", "flac", "adts", "webm", "ogg", "webp")


def _mixed_payload(mid: int) -> bytes:
    build = {
        "mp3": _mp3_payload, "mp4": _mp4_payload, "flac": _flac_payload,
        "adts": _adts_payload, "webm": _webm_payload, "ogg": _ogg_payload,
        "webp": _webp_payload,
    }[_MIXED_FAMILIES[mid % 7]]
    return build(mid)


def synth_mixed_media_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): a MIXED corpus cycling all seven
    header-walk container families by id % 7 — the fixture for the
    sniff-and-dispatch catalog (what a real unlabeled 100 TB media dump
    looks like: you don't get told which container each blob is)."""
    return _synth_payload_frame(df, _mixed_payload)


CATALOG_SCHEMA = (
    "media_id long, container string, kind string, width int, "
    "height int, duration_ms long"
)

_CATALOG_KIND = {
    "mp3": "audio", "adts": "audio", "flac": "audio", "ogg": "audio",
    "wav": "audio", "mp4": "video", "webm": "video", "avi": "video",
    "webp": "image", "bmp": "image", "png": "image", "gif": "image",
    "jpeg": "image", "tiff": "image", "ppm": "image",
    "pdf": "doc",  # documents route to the operators/pdf.py lane
}


def _catalog_row(payload: bytes) -> tuple:
    container = codecs.sniff_container(payload)
    kind = _CATALOG_KIND[container]
    width = height = duration = None
    if container == "mp3":
        duration = codecs.mp3_meta(payload)[3]
    elif container == "adts":
        duration = codecs.aac_adts_meta(payload)[4]
    elif container == "flac":
        duration = codecs.flac_meta(payload)[4]
    elif container == "ogg":
        duration = codecs.ogg_opus_meta(payload)[4]
    elif container == "mp4":
        _, _, duration, _, width, height, _ = codecs.mp4_meta(payload)
    elif container == "webm":
        _, _, duration, _, width, height, _ = codecs.webm_meta(payload)
    elif container == "webp":
        _, width, height, _, _ = codecs.webp_meta(payload)
    elif container == "wav":
        duration = _wav_row(payload)[4]
    elif container == "pdf":
        pass  # documents carry no dims/duration; text lane extracts
    elif container == "avi":
        width, height, _, _, duration = _avi_row(payload)
    else:  # pure image formats share the image_meta surface
        _fmt, width, height = codecs.image_meta(payload)
    return container, kind, width, height, duration


def extract_media_catalog(df: DataFrame, strict: bool = False) -> DataFrame:
    """Mixed-corpus catalog: sniff each blob's container from magic
    bytes, dispatch to the matching metadata walk, and normalize to
    (container, kind, width, height, duration_ms) — the ingest entry
    point that routes an unlabeled media dump into typed per-container
    pipelines. O(header bytes) per blob; undecodable/unknown payloads
    yield nulls unless ``strict``."""
    return _extract_meta_frame(
        df, _catalog_row,
        ("container", "kind", "width", "height", "duration_ms"),
        CATALOG_SCHEMA, strict,
    )


# analysis sub-fingerprints per synth_audio_fp_payloads clip: frames =
# (n_samples - frame_len)//hop + 1 Hann windows, minus 1 for the time
# double-difference — shared with the SQL oracle rendering
AUDIO_FP_FIXTURE_SUBFPS = (_FP_FIXTURE_SAMPLES - _FP_FRAME_LEN) // _FP_HOP  # = 6


EXIF_META_SCHEMA = (
    "media_id long, width int, height int, orientation int, make string, "
    "model string, taken_at string, exif_width int, exif_height int"
)


def _exif_row(payload: bytes) -> tuple:
    """SOF dims + the EXIF fields; a JPEG without EXIF is undecodable."""
    w, h = codecs.jpeg_meta(payload)
    m = codecs.exif_meta(payload)
    return (
        w, h, m["orientation"], m["make"], m["model"], m["datetime"],
        m["exif_width"], m["exif_height"],
    )


def extract_exif_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL EXIF extraction from JPEG payloads: SOF dims + the APP1 TIFF
    IFD walk (``codecs.exif_meta`` — byte-order aware, offset values).
    Arrow mapInPandas narrow map; payloads without EXIF (or undecodable)
    yield an all-null row unless ``strict``.

    The typed-metadata side of the multimodal contract: camera fields
    become real columns a curation pipeline can filter/group on
    (orientation-based rotation routing, per-device sampling, capture-
    time range filters).
    """
    return _extract_meta_frame(
        df, _exif_row,
        ("width", "height", "orientation", "make", "model", "taken_at",
         "exif_width", "exif_height"),
        EXIF_META_SCHEMA, strict,
    )


def synth_exif_params(media_id: int) -> tuple[int, str, str, str, int, int]:
    """Deterministic EXIF contract: (orientation, make, model, datetime,
    width, height) as pure id arithmetic — the oracle predicts every
    extracted value without touching bytes (same pattern as
    synth_image_dims)."""
    orientation = 1 + media_id % 8
    make = f"CAM{media_id % 5}"
    model = f"MODEL-{media_id % 11}-LONGNAME"
    day = 1 + media_id % 28
    dt = f"2024:01:{day:02d} 12:00:00"
    w = 16 + (3 * media_id) % 64
    h = 16 + (5 * media_id) % 48
    return orientation, make, model, dt, w, h


def _exif_jpeg_payload(mid: int) -> bytes:
    o, mk, md, dt, w, h = synth_exif_params(mid)
    app1 = codecs.build_exif_app1(
        o, mk, md, dt, w, h, byte_order="<" if mid % 2 == 0 else ">"
    )
    return codecs.encode_jpeg_header_only(w, h, app1)


def synth_exif_jpeg_payloads(df: DataFrame) -> DataFrame:
    """(media_id, payload): REAL JPEG marker streams with REAL APP1 EXIF
    segments following ``synth_exif_params``; byte order alternates per
    id (II/MM both exercised). No entropy data (documented stdlib
    boundary, like video frames — headers are exact)."""
    return _synth_payload_frame(df, _exif_jpeg_payload)


PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("phash", LongType()),
    ]
)


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (the JPEG transform)."""
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    c = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2.0 * n))
    c[0, :] = np.sqrt(1.0 / n)
    return c


def _phash_bits(gray: np.ndarray) -> int:
    """DCT perceptual hash: block-mean downsample to 32² (8·4), 2-D
    DCT-II, keep the top-left 8² low-frequency block, threshold at the
    MEDIAN of the block with the DC term excluded (DC is overall
    brightness — dropping it is what makes pHash brightness-invariant,
    where aHash is not), pack row-major MSB-first with the DC bit forced
    to 0."""
    n = 32
    c = _dct_matrix(n)
    flat = (c @ _block_means(gray, n) @ c.T)[:8, :8].flatten()
    med = np.median(flat[1:])  # DC excluded from the threshold
    # epsilon guard: a (near-)constant image has all-~0 AC coefficients
    # whose 1e-13 FP residue would otherwise threshold into random bits;
    # real DCT energy is orders of magnitude above 1e-9
    return _pack_signed64(flat[1:] > med + 1e-9)  # 63 bits: DC bit is 0


def phash_images(df: DataFrame, strict: bool = False) -> DataFrame:
    """DCT perceptual hash (pHash) per image — the frequency-domain
    sibling of :func:`ahash_images`: aHash thresholds raw block means
    (cheap, but any global brightness/contrast shift flips bits), pHash
    thresholds the low-frequency DCT block against its median, so it
    survives brightness, contrast and mild blur — the hash the
    image-dedup literature actually deploys. Same Arrow kernel shape,
    same 64-bit output, same downstream ``dedup.hamming_pairs`` banding
    (fingerprint-agnostic); only (id, hash) ever shuffles."""
    return _extract_meta_frame(
        df, lambda b: (_phash_bits(_gray(codecs.decode_image(b)[1])),),
        ("phash",), PHASH_SCHEMA, strict,
    )


# ---------------------------------------------------------------------------
# PDF text — the post-HTML corpus source
# ---------------------------------------------------------------------------


def synth_pdf_pages(media_id: int) -> list[str]:
    """id → per-page extracted-text contract shared with the SQL
    oracle: 1 + id % 3 pages, page k reading exactly
    ``doc {id} page {k} (ok)`` — rendered as a TJ array show (kerning
    numbers between string pieces) plus a Tj show with escaped parens,
    so both show operators and the escape lane are value-checked."""
    return [
        f"doc {media_id} page {k} (ok)"
        for k in range(1 + media_id % 3)
    ]


def _pdf_shows(mid: int) -> list:
    """``synth_pdf_pages(mid)`` as show operators: each page a TJ
    array show (kerning numbers between the string pieces) plus a Tj
    show with escaped parens."""
    return [
        [["doc ", -28, f"{mid} pa", 35, f"ge {k}"], "(ok)"]
        for k in range(1 + mid % 3)
    ]


def _pdf_payload(mid: int) -> bytes:
    from etl_excel_csv_sql_spark.operators import pdf

    return pdf.encode_pdf(_pdf_shows(mid))


def synth_pdf_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): real classic-xref PDFs (FlateDecode
    content streams, TJ/Tj shows, escaped parens) per the
    ``synth_pdf_pages`` contract."""
    return _synth_payload_frame(df, _pdf_payload)


PDF_TEXT_SCHEMA = (
    "media_id long, version string, n_pages int, text string, "
    "n_chars long"
)


def extract_pdf_text(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL PDF text extraction (``pdf.pdf_text_pages``: xref walk,
    object parse, FlateDecode, BT..ET show-operator assembly) via Arrow
    mapInPandas; pages join with newline. Undecodable payloads yield
    nulls unless ``strict`` — same quarantine contract as every codec
    kernel. The document twin of the WARC→HTML lane: crawl text comes
    from webtext.extract_web_text, document text from here, and both
    feed the same lang-ID/quality/dedup stages."""

    from etl_excel_csv_sql_spark.operators import pdf

    return _extract_meta_frame(
        df, pdf.pdf_text_report,
        ("version", "n_pages", "text", "n_chars"),
        PDF_TEXT_SCHEMA, strict,
    )


def _pdf_unicode_payload(mid: int) -> bytes:
    from etl_excel_csv_sql_spark.operators import pdf

    cmap = {0x0001: "α", 0x0002: "中"}
    for d in range(10):
        cmap[0x30 + d] = chr(0x0410 + d)  # digit codes → Cyrillic А..Й
    fonts = {
        "F1": {"cmap": cmap, "width": 2},
        "F2": {"differences": {65: "alpha", 66: "bullet", 67: "eacute"}},
    }
    d1, d0 = (mid // 10) % 10, mid % 10
    shows = [
        ("F1", bytes([0, 1, 0, 2, 0, 0x30 + d1, 0, 0x30 + d0])),
        ("F2", b"ABC id %d" % mid),
        (None, f"Ω{mid % 5}"),  # str → UTF-16BE BOM literal
    ]
    return pdf.encode_pdf_unicode([shows], fonts)


def synth_pdf_unicode_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): the Unicode lane — each PDF
    carries a 2-byte /ToUnicode CMap font (Greek/CJK/Cyrillic), a
    simple font with /Encoding /Differences (AGL glyph names), and a
    UTF-16BE BOM literal, so extraction exercises every decode path
    of pdf._page_text. Text is closed-form in the id."""
    return _synth_payload_frame(df, _pdf_unicode_payload)


def _pdf15_payload(mid: int) -> bytes:
    from etl_excel_csv_sql_spark.operators import pdf

    return pdf.encode_pdf(_pdf_shows(mid), xref_stream=True, objstm=True)


def synth_pdf15_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): the PDF 1.5 twin of
    ``synth_pdf_payloads`` — cross-reference STREAM + every non-stream
    object packed into an ObjStm (the mass-produced real-world layout),
    same ``synth_pdf_pages`` text contract."""
    return _synth_payload_frame(df, _pdf15_payload)


def _pdf_lzw_payload(mid: int) -> bytes:
    from etl_excel_csv_sql_spark.operators import pdf

    return pdf.encode_pdf(_pdf_shows(mid), filters=["LZWDecode"])


def synth_pdf_lzw_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): the LZWDecode lane — same
    ``synth_pdf_pages`` text contract as the Flate lane, but content
    streams carry /Filter /LZWDecode (MSB-first variable 9..12-bit
    codes per PDF 32000-1 §7.4.4), so extraction exercises
    ``pdf._lzw_decode`` end to end."""
    return _synth_payload_frame(df, _pdf_lzw_payload)


def _pdf_rc4_payload(mid: int) -> bytes:
    from etl_excel_csv_sql_spark.operators import pdf

    shows = _pdf_shows(mid)
    # odd ids take the legacy 40-bit R=2/V=1 pair, even ids the common
    # R=3/V=2/128-bit pair; every third id stacks LZW under the cipher
    # (decrypt THEN defilter, the spec order); id % 5 == 4 ships the
    # PDF 1.5 encrypted layout (whole-ObjStm decrypt, unencrypted
    # XRef stream) — the combination mass-produced encrypted PDFs use
    if mid % 5 == 4:
        return pdf.encode_pdf_encrypted(
            shows, r=2 if mid % 2 else 3, objstm=True
        )
    return pdf.encode_pdf_encrypted(
        shows,
        r=2 if mid % 2 else 3,
        title=f"doc {mid}",
        filters=["LZWDecode"] if mid % 3 == 0 else None,
        seed=str(mid).encode(),
    )


def synth_pdf_rc4_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): the decryption lane —
    standard-security-handler RC4 with an EMPTY user password (the
    permissions-only encryption most "encrypted" crawl PDFs carry),
    alternating R=2/40-bit and R=3/128-bit by id parity, with an
    encrypted /Info /Title and (id % 3 == 0) an LZW content filter
    stacked under the cipher. Same ``synth_pdf_pages`` text
    contract."""
    return _synth_payload_frame(df, _pdf_rc4_payload)


def _pdf_filter_chain_payload(mid: int) -> bytes:
    from etl_excel_csv_sql_spark.operators import pdf

    chain = (
        ["ASCII85Decode", "FlateDecode"],      # 7-bit-safe classic
        ["ASCIIHexDecode", "LZWDecode"],       # hex transport + LZW
        ["RunLengthDecode"],                   # legacy single filter
    )[mid % 3]
    return pdf.encode_pdf(_pdf_shows(mid), filters=chain)


def synth_pdf_filter_chain_payloads(df: DataFrame) -> DataFrame:
    """(id) → (media_id, payload): the multi-filter lane — content
    streams rotate /Filter chains by id % 3: [ASCII85 Flate] (the
    classic 7-bit-safe stacking), [ASCIIHex LZW], and bare RunLength,
    so extraction exercises the filter-LIST decode path (first-to-last
    order) plus all three stdlib ASCII/RLE codecs. Same
    ``synth_pdf_pages`` text contract."""
    return _synth_payload_frame(df, _pdf_filter_chain_payload)
