"""Multimodal (image/audio/video) column handling (north-star extension).

Design: media payloads are opaque ``binary`` columns plus a typed metadata
struct. All Spark-side plumbing — schema, Arrow batch shape, partitioning,
mapInPandas signatures — is real and tested. Generic payloads go through
``decode_stub`` (a deterministic fake that derives "features" from raw
bytes, or ``NotImplementedError`` in strict mode); BMP, WAV, PNG, JPEG
(baseline gray and 4:2:0 color, progressive, restart intervals) and GIF
(single and animated) are real pure-Python codecs in the same slot.
Every fixture generator shares one mapInPandas scaffold (``_synth``) and
every decode-feature kernel another (``_features``).

At 100 TB: payloads dominate row size, so feature extraction uses
mapInPandas (Arrow batches, one Python worker per input partition, no
shuffle); downstream analytics select only the small feature/metadata
columns so parquet column pruning never rereads the blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 8


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a binary media column + metadata struct from text bytes
    (the test corpus has no real media; plumbing is identical)."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
            F.lit("application/octet-stream").alias("mime"),
            F.md5(F.col(text_col)).alias("checksum"),
        ),
    )


def decode_stub(payload: bytes, strict: bool = False) -> list[float]:
    """STUB for the real image/audio decode (libraries unavailable here).

    strict=True raises NotImplementedError — the contract a real codec
    implementation replaces. Otherwise returns deterministic fake features:
    byte-histogram moments over FEATURE_DIM buckets.
    """
    if strict:
        raise NotImplementedError(
            "media decode requires image/audio codecs not present in this "
            "environment; decode_stub provides deterministic fake features"
        )
    buckets = [0] * FEATURE_DIM
    for i, b in enumerate(payload):
        buckets[b % FEATURE_DIM] += 1
    n = max(len(payload), 1)
    return [round(c / n, 9) for c in buckets]


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)

_PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def _synth(df: DataFrame, id_col: str, make) -> DataFrame:
    """The fixture scaffold of every synth_*: one ``make(id)`` payload
    per row, built in Arrow batches (mapInPandas, map-only)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": [make(int(d)) for d in pdf[id_col]],
                }
            )

    return df.select(id_col).mapInPandas(run, _PAYLOAD_SCHEMA)


def _features(
    df: DataFrame, id_col: str, payload_col: str, schema: StructType, row
) -> DataFrame:
    """The decode-feature scaffold: ``row(payload)`` returns the values
    of ``schema``'s fields after doc_id, one call per row, in Arrow
    batches (mapInPandas — the slot a PIL/ffmpeg decoder drops into)."""
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in names}
            for d, p in zip(pdf[id_col], pdf[payload_col]):
                for k, v in zip(names, (int(d), *row(bytes(p)))):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(run, schema)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_size: int = 256,
    every: int = 2,
) -> DataFrame:
    """Frame sampling over a binary payload: split into fixed-size byte
    frames, keep every `every`-th (video keyframe-sampling plumbing; a
    real container format would use codec offsets, the Spark shape is
    identical).

    Pure JVM — octet arithmetic + explode + binary substring; map-only,
    no shuffle, emits frame hashes (not bytes) so output stays narrow.
    """
    p = F.col(payload_col)
    n = F.octet_length(p)
    nframes = F.ceil(n.cast("double") / frame_size).cast("int")
    frames = (
        # empty media has NO frames — and Spark's sequence(0, -1) would
        # otherwise DESCEND to [0, -1] and fabricate a frame for it
        df.filter(n > 0)
        .select(F.col(id_col), p, F.explode(
            F.sequence(F.lit(0), nframes - 1)
        ).alias("frame_idx"))
        .filter(F.col("frame_idx") % every == 0)
    )
    frame = F.substring(p, F.col("frame_idx") * frame_size + 1, frame_size)
    return frames.select(
        F.col(id_col),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.octet_length(frame).cast("long").alias("n_frame_bytes"),
        F.md5(frame).alias("frame_md5"),
    )


def resize_stub(payload: bytes, target_bytes: int, strict: bool = False) -> bytes:
    """STUB for the real image resize (codecs unavailable): deterministic
    fake that tiles the payload to exactly target_bytes. strict=True raises
    NotImplementedError — the contract a real resizer replaces."""
    if strict:
        raise NotImplementedError(
            "media resize requires image codecs not present in this "
            "environment; resize_stub tiles bytes deterministically"
        )
    if not payload:
        return b"\x00" * target_bytes
    reps = -(-target_bytes // len(payload))
    return (payload * reps)[:target_bytes]


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes_in", LongType()),
        StructField("n_bytes_out", LongType()),
        StructField("resized_md5", StringType()),
    ]
)


def resize_media(
    df: DataFrame,
    target_bytes: int = 512,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Arrow-batched resize over binary payloads (mapInPandas — the slot a
    real PIL/ffmpeg resize drops into unchanged). Emits sizes + hash of
    the resized payload, not the bytes."""
    import hashlib

    def row(p: bytes):
        resized = resize_stub(p, target_bytes)
        return len(p), len(resized), hashlib.md5(resized).hexdigest()

    # empty media cannot be tiled to a target size — excluded, like the
    # frame sampler (a real codec would reject a zero-byte file too)
    return _features(
        df.filter(F.octet_length(F.col(payload_col)) > 0),
        id_col, payload_col, RESIZE_SCHEMA, row,
    )


# ---------------------------------------------------------------------------
# REAL codec: 24-bit uncompressed BMP (the one raster format simple enough
# to implement honestly without image libraries). This replaces the stub
# CONTRACT for one format: decode_resize_bmp is a genuine parse -> pixel
# array -> box-filter resize kernel running inside the same mapInPandas
# slot the stubs occupy, proving the REAL-CODEC.md seam with a format the
# sandbox can handle. BMP specifics a fake would get wrong (and the
# fixtures + oracle catch): bottom-up row order for positive heights,
# BGR channel order, 4-byte row-stride padding, pixel-data offset from
# the file header rather than an assumed 54.
# ---------------------------------------------------------------------------


def bmp_encode(img) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit uncompressed BMP
    (BITMAPINFOHEADER, bottom-up rows, BGR, stride padded to 4 bytes)."""
    import struct

    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    file_size = 14 + 40 + stride * h
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
    )
    pad = b"\x00" * (stride - w * 3)
    rows = [
        img[y, :, ::-1].tobytes() + pad for y in range(h - 1, -1, -1)
    ]
    return header + info + b"".join(rows)


def bmp_decode(payload: bytes):
    """Decode a 24-bit uncompressed BMP to an (h, w, 3) uint8 RGB array.

    Honors the header's pixel-data offset, positive (bottom-up) and
    negative (top-down) heights, BGR storage, and row-stride padding.
    Raises ValueError on anything that is not a 24-bit uncompressed BMP —
    the strict-mode contract line (REAL-CODEC.md)."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    _, w, h = struct.unpack_from("<Iii", payload, 14)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    topdown = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    if offset + stride * h > len(payload):
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(payload, np.uint8, stride * h, offset)
    px = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    if not topdown:
        px = px[::-1]
    return np.ascontiguousarray(px)


def box_resize(img, out_h: int, out_w: int):
    """Box-filter downsample by integer factors: each output pixel is the
    exact mean of its (h/out_h x w/out_w) input block. Means of uint8
    blocks are dyadic rationals well inside float64 — bit-exact, so the
    SQL oracle can replay them."""
    h, w, c = img.shape
    fy, fx = h // out_h, w // out_w
    if fy * out_h != h or fx * out_w != w:
        raise ValueError("box_resize requires integer scale factors")
    import numpy as np

    return (
        img.reshape(out_h, fy, out_w, fx, c)
        .astype(np.float64)
        .mean(axis=(1, 3))
    )


def synth_bmp_payload(
    df: DataFrame, id_col: str = "doc_id", side: int = 8
) -> DataFrame:
    """Deterministic BMP fixtures: an (side x side) RGB image per row whose
    pixel values are closed-form in the id — r=(id*31+i)%256,
    g=(id*17+2i)%251, b=(id*7+3i)%253 at raster index i=y*side+x — so a
    SQL oracle can recompute any decoded statistic without decoding.
    Encoded with the real bmp_encode (bottom-up + BGR + padding), so a
    decoder that shortcuts any of those reads the wrong pixels."""
    import numpy as np

    idx = np.arange(side * side, dtype=np.int64).reshape(side, side)

    def make(d: int) -> bytes:
        img = np.stack(
            [
                (d * 31 + idx) % 256,
                (d * 17 + 2 * idx) % 251,
                (d * 7 + 3 * idx) % 253,
            ],
            axis=-1,
        ).astype(np.uint8)
        return bmp_encode(img)

    return _synth(df, id_col, make)


DECODE_REAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_bytes", LongType()),
        StructField("wsum_r", DoubleType()),
        StructField("wsum_g", DoubleType()),
        StructField("wsum_b", DoubleType()),
    ]
)


def decode_resize_bmp(
    df: DataFrame,
    out_side: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL decode + resize kernel in the mapInPandas slot: parse the BMP,
    box-resize to out_side x out_side, emit position-weighted per-channel
    sums sum(mean_block_b * (b+1)) — weighted so a decoder that flips row
    order, swaps channels, or mis-strides produces a different number
    (a plain global mean would hide all three). Every term is a quarter-
    integer: float64-exact, DuckDB-replayable."""

    def row(p: bytes):
        img = bmp_decode(p)
        h, w, _ = img.shape
        return (w, h, len(p), *_resized_wsums(img, out_side))

    return _features(df, id_col, payload_col, DECODE_REAL_SCHEMA, row)


def _resized_wsums(img, out_side: int) -> list[float]:
    """Per-channel sum(mean_block_b * (b+1)) over the box-resized
    (out_side x out_side) image, blocks b in raster order."""
    import numpy as np

    small = box_resize(img, out_side, out_side)
    weights = np.arange(
        1, out_side * out_side + 1, dtype=np.float64
    ).reshape(out_side, out_side)
    return [float((small[:, :, ci] * weights).sum()) for ci in range(3)]


# ---------------------------------------------------------------------------
# REAL codec #2: RIFF/WAVE PCM16 mono audio (r7 verdict task #3 — the BMP
# recipe transplanted to a second modality). wav_decode is a genuine RIFF
# chunk walker: it locates fmt/data by iterating chunks (not by assuming
# byte offset 44 — fixtures embed a JUNK chunk before data on odd ids to
# catch exactly that shortcut), validates PCM16 mono, and reads the sample
# rate from the fmt chunk (fixtures vary it by id so an echoed constant
# fails). Features are windowed RMS + zero crossings: every RMS radicand
# is an exact int64 ratio, so sqrt is correctly rounded and identical on
# both engines and the DuckDB oracle replays the whole computation from
# the closed-form sample formula.
# ---------------------------------------------------------------------------


def wav_encode(samples, sample_rate: int, junk: bool = False) -> bytes:
    """Encode an int16 numpy array as RIFF/WAVE PCM16 mono. ``junk=True``
    inserts a 12-byte JUNK chunk between fmt and data — legal RIFF that
    breaks any parser assuming sample data starts at byte offset 44."""
    import struct

    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = [b"fmt " + struct.pack("<I", len(fmt)) + fmt]
    if junk:
        chunks.append(b"JUNK" + struct.pack("<I", 12) + b"\x00" * 12)
    chunks.append(b"data" + struct.pack("<I", len(data)) + data)
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(payload: bytes):
    """Decode RIFF/WAVE PCM16 mono to (sample_rate, int16 array) by
    honestly walking the chunk list (fmt may sit anywhere before data;
    unknown chunks are skipped with RIFF even-byte padding). Raises
    ValueError on anything that is not PCM16 mono — the strict-mode
    contract line (REAL-CODEC.md)."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt_fields, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos:pos + 4], struct.unpack_from(
            "<I", payload, pos + 4
        )[0]
        body = payload[pos + 8: pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            fmt_fields = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
            break  # fmt is required to precede data in canonical WAV
        pos += 8 + size + (size & 1)  # RIFF chunks pad to even length
    if fmt_fields is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt_fields
    if audio_fmt != 1 or channels != 1 or bits != 16:
        raise ValueError(
            f"unsupported WAV (fmt={audio_fmt}, ch={channels}, bits={bits})"
        )
    return rate, np.frombuffer(data, dtype="<i2")


def synth_wav_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic WAV fixtures: per doc, n = 64 + (id%3)*32 PCM16
    samples with the closed form s_i = ((id*37 + i*13) % 4001) - 2000 at
    sample rate 8000 + (id%2)*3050, JUNK chunk present on odd ids — so a
    SQL oracle recomputes every decoded statistic symbolically while the
    Spark side must genuinely parse the bytes (chunk walk + fmt read)."""
    import numpy as np

    def make(d: int) -> bytes:
        i = np.arange(64 + (d % 3) * 32, dtype=np.int64)
        s = ((d * 37 + i * 13) % 4001) - 2000
        return wav_encode(
            s.astype(np.int16), 8000 + (d % 2) * 3050, junk=bool(d % 2)
        )

    return _synth(df, id_col, make)


def synth_wav_square(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Square-wave WAV fixtures for the pitch detector: amplitude 1500,
    half-period h = 3 + (id % 5) samples (so the fundamental period
    2h ranges 6..14), n = 96 samples, rate 8000, JUNK chunk on odd ids.
    s_i = +-1500 by (i // h) % 2 — closed form a SQL oracle replays."""
    import numpy as np

    i = np.arange(96, dtype=np.int64)

    def make(d: int) -> bytes:
        s = np.where((i // (3 + d % 5)) % 2 == 0, 1500, -1500)
        return wav_encode(s.astype(np.int16), 8000, junk=bool(d % 2))

    return _synth(df, id_col, make)


AUDIO_PITCH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("best_lag", LongType()),
        StructField("r_best", LongType()),
        StructField("r0", LongType()),
    ]
)


def audio_pitch_wav(
    df: DataFrame,
    min_lag: int = 2,
    max_lag: int = 16,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Pitch (fundamental period) detection on REAL decoded WAV bytes:
    integer autocorrelation R(L) = sum s_i * s_{i+L} over lags
    [min_lag, max_lag], argmax with ties to the LOWEST lag. Every R(L)
    is an exact int64 (|s| <= 32767, n bounded), so the oracle replays
    the whole computation from the fixture's closed form. Feature #2 on
    the round-8 codec seam — the kernel consumes wav_decode's output,
    not the synth formula."""
    import numpy as np

    def row(p: bytes):
        s64 = wav_decode(p)[1].astype(np.int64)
        n = len(s64)
        best_lag, best_r = None, None
        for lag in range(min_lag, min(max_lag + 1, n)):
            r = int(np.dot(s64[:-lag], s64[lag:]))
            if best_r is None or r > best_r:
                best_lag, best_r = lag, r
        return n, best_lag, best_r, int(np.dot(s64, s64))

    return _features(df, id_col, payload_col, AUDIO_PITCH_SCHEMA, row)


AUDIO_REAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_bytes", LongType()),
        StructField("peak_abs", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("rms_q1", DoubleType()),
        StructField("rms_q2", DoubleType()),
        StructField("rms_q3", DoubleType()),
        StructField("rms_q4", DoubleType()),
    ]
)


def audio_features_wav(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL decode + feature kernel in the mapInPandas slot: parse the
    WAV (chunk walk), emit peak amplitude, strict sign-change zero
    crossings, and quarter-window RMS. Each RMS is sqrt(sumsq/cnt) with
    an exact-int64 sumsq and cnt — one IEEE division + correctly-rounded
    sqrt, bit-identical cross-engine (determinism note: integer radicand
    discipline, same as quantized_vectors' unit norm)."""
    import math

    import numpy as np

    def row(p: bytes):
        rate, s = wav_decode(p)
        s64 = s.astype(np.int64)
        n = len(s64)
        rms = []
        # window w = samples with (i*4)//n == w — the oracle's partition
        # rule, exact for ANY n (the n//4 slicing it replaces silently
        # dropped the last n%4 samples and agreed only because the synth
        # formula keeps n % 4 == 0)
        for w in range(4):
            win = s64[-(-w * n // 4):-(-(w + 1) * n // 4)]  # ceil bounds
            sumsq = int((win * win).sum())
            rms.append(math.sqrt(sumsq / len(win)) if len(win) else 0.0)
        return (
            int(rate), n, len(p), int(np.abs(s64).max()) if n else 0,
            int(np.count_nonzero(s64[1:] * s64[:-1] < 0)), *rms,
        )

    return _features(df, id_col, payload_col, AUDIO_REAL_SCHEMA, row)


HIST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("hist_csv", StringType()),
    ]
)


def byte_histogram_csv(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Scalar twin of extract_features for the hash gate (the r5
    ARRAY-fix pattern): the SAME byte-bucket kernel in the same Arrow
    mapInPandas slot, emitting the exact integer bucket counts as a CSV
    string instead of decode_stub's rounded fractions (counts/n_bytes
    reproduce them). Counts are exact, so a DuckDB oracle replays the
    bucketing per byte; zero-length payloads are excluded (a histogram
    over nothing is the one case decode_stub fudges with max(n, 1))."""
    import numpy as np

    def row(p: bytes):
        b = np.frombuffer(p, dtype=np.uint8)
        counts = np.bincount(b % FEATURE_DIM, minlength=FEATURE_DIM)
        return len(b), ",".join(str(int(c)) for c in counts)

    return _features(
        df.filter(F.octet_length(F.col(payload_col)) > 0),
        id_col, payload_col, HIST_SCHEMA, row,
    )


def extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas: per-partition iterator of pandas batches — the pattern a
    real decoder (PIL/ffmpeg) would drop into unchanged.
    """
    return _features(
        df, id_col, payload_col, FEATURE_SCHEMA,
        lambda p: (len(p), decode_stub(p)),
    )


# ---------------------------------------------------------------------------
# REAL codec #3: PNG, 8-bit RGB non-interlaced (r8 verdict task #5 — the
# BMP/WAV recipe's third modality kernel, feasible here because stdlib
# zlib covers DEFLATE). png_decode is a genuine chunk walker + defilterer:
# it validates every chunk's CRC32, concatenates ALL IDAT chunks (fixtures
# split IDAT in two on odd ids to catch single-IDAT shortcuts), skips
# ancillary chunks (fixtures insert tEXt on ids % 3 == 0), inflates, and
# reverses the per-row filter — fixtures cycle through ALL FIVE filter
# types (None/Sub/Up/Average/Paeth) keyed on (id + y) % 5, so a decoder
# that ignores filtering or botches any one predictor reconstructs wrong
# pixels and the closed-form oracle hash-mismatches. Interlacing, palettes
# and non-8-bit depths are rejected honestly (ValueError), the strict-mode
# contract line (REAL-CODEC.md).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _paeth(a, b, c):
    """Paeth predictor (PNG spec §6.6) — numpy-vectorized over a row."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_filter_row(cur, prev, ftype: int):
    """Apply filter `ftype` to raw scanline `cur` (int64 ndarray) given
    the RAW previous scanline `prev` — encoding side (filters read
    original bytes; decoding reverses against reconstructed ones)."""
    import numpy as np

    bpp = 3
    a = np.concatenate([np.zeros(bpp, np.int64), cur[:-bpp]])
    if ftype == 0:
        return cur & 0xFF
    if ftype == 1:
        return (cur - a) & 0xFF
    if ftype == 2:
        return (cur - prev) & 0xFF
    if ftype == 3:
        return (cur - (a + prev) // 2) & 0xFF
    if ftype == 4:
        c = np.concatenate([np.zeros(bpp, np.int64), prev[:-bpp]])
        return (cur - _paeth(a, prev, c)) & 0xFF
    raise ValueError(f"unknown PNG filter type {ftype}")


def png_encode(img, row_filter=None, idat_split: int = 1,
               text_chunk: bytes | None = None) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an 8-bit truecolor PNG.

    ``row_filter(y)`` picks the per-scanline filter type (default 0);
    ``idat_split`` > 1 splits the compressed stream across that many IDAT
    chunks; ``text_chunk`` inserts an ancillary tEXt chunk before IDAT —
    both decoder traps the fixtures arm."""
    import struct
    import zlib

    import numpy as np

    h, w, _ = img.shape
    stride = w * 3
    flat = img.reshape(h, stride).astype(np.int64)
    prev = np.zeros(stride, np.int64)
    lines = []
    for y in range(h):
        f = row_filter(y) if row_filter else 0
        enc = _png_filter_row(flat[y], prev, f)
        lines.append(bytes([f]) + enc.astype(np.uint8).tobytes())
        prev = flat[y]
    comp = zlib.compress(b"".join(lines))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    parts = [_PNG_SIG, _png_chunk(b"IHDR", ihdr)]
    if text_chunk is not None:
        parts.append(_png_chunk(b"tEXt", text_chunk))
    n = max(1, int(idat_split))
    step = -(-len(comp) // n)
    for j in range(0, len(comp), step):
        parts.append(_png_chunk(b"IDAT", comp[j:j + step]))
    parts.append(_png_chunk(b"IEND", b""))
    return b"".join(parts)


def png_decode(payload: bytes):
    """Decode an 8-bit truecolor non-interlaced PNG to ((h, w, 3) uint8
    RGB array, n_chunks).

    Walks chunks with CRC32 validation, concatenates all IDATs, inflates,
    and reverses the per-row filter (None/Sub/Up/Average/Paeth) against
    RECONSTRUCTED neighbor bytes. Raises ValueError on anything that is
    not an 8-bit RGB (color type 2) non-interlaced PNG, on CRC damage,
    and on truncation — the strict-mode contract (REAL-CODEC.md)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, n_chunks, iend = 8, None, [], 0, False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        ln, typ = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8:pos + 8 + ln]
        if len(data) != ln or pos + 12 + ln > len(payload):
            raise ValueError("truncated PNG chunk data")
        crc = struct.unpack_from(">I", payload, pos + 8 + ln)[0]
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in PNG chunk {typ!r}")
        n_chunks += 1
        pos += 12 + ln
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            iend = True
            break
    if ihdr is None or not iend or not idat:
        raise ValueError("PNG missing IHDR/IDAT/IEND")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            f"unsupported PNG (depth={depth}, color_type={ctype}, "
            f"interlace={interlace}) — only 8-bit RGB non-interlaced"
        )
    bpp, stride = 3, w * 3
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG pixel data length mismatch")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int64)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).astype(np.int64)
        if ftype == 0:
            cur = row
        elif ftype == 2:  # Up: depends only on prev row — vectorized
            cur = (row + prev) & 0xFF
        elif ftype in (1, 3, 4):  # left-neighbor recurrence: per-pixel
            cur = row.copy()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    cur[x] = (cur[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (cur[x] + (a + prev[x]) // 2) & 0xFF
                else:
                    b = prev[x]
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c
                    )
                    cur[x] = (cur[x] + pr) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    return out.reshape(h, w, 3), n_chunks


def synth_png_payload(
    df: DataFrame, id_col: str = "doc_id", side: int = 8
) -> DataFrame:
    """Deterministic PNG fixtures: (side x side) RGB, pixels closed-form
    in the id — r=(id*13+5i)%256, g=(id*29+3i)%254, b=(id*11+7i)%249 at
    raster index i=y*side+x (a DIFFERENT formula family from the BMP
    fixtures, so a kernel echoing those fails). Encoded with the real
    png_encode, filter type (id + y) % 5 per row (all five filters in
    every image set), IDAT split in two on odd ids, tEXt inserted on
    ids % 3 == 0 — each a decoder shortcut the oracle then catches."""
    import numpy as np

    idx = np.arange(side * side, dtype=np.int64).reshape(side, side)

    def make(d: int) -> bytes:
        img = np.stack(
            [
                (d * 13 + 5 * idx) % 256,
                (d * 29 + 3 * idx) % 254,
                (d * 11 + 7 * idx) % 249,
            ],
            axis=-1,
        ).astype(np.uint8)
        return png_encode(
            img,
            row_filter=lambda y: (d + y) % 5,
            idat_split=1 + d % 2,
            text_chunk=b"Source\x00synthetic" if d % 3 == 0 else None,
        )

    return _synth(df, id_col, make)


PNG_REAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_chunks", LongType()),
        StructField("wsum_r", DoubleType()),
        StructField("wsum_g", DoubleType()),
        StructField("wsum_b", DoubleType()),
    ]
)


def decode_resize_png(
    df: DataFrame,
    out_side: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL PNG decode + resize in the mapInPandas slot: parse + defilter,
    box-resize to out_side x out_side, emit position-weighted per-channel
    sums (the BMP kernel's statistic — weighted so row-order, channel, or
    filter-reconstruction errors change the number) plus the chunk count
    (closed-form in the id: 3 + id%2 + [id%3==0], so a decoder that does
    not actually walk chunks cannot echo it). Quarter-integer arithmetic,
    float64-exact, DuckDB-replayable."""

    def row(p: bytes):
        img, n_chunks = png_decode(p)
        h, w, _ = img.shape
        return (w, h, n_chunks, *_resized_wsums(img, out_side))

    return _features(df, id_col, payload_col, PNG_REAL_SCHEMA, row)


# ---------------------------------------------------------------------------
# REAL codec #4: the JPEG family (ITU T.81 DCT), starting with baseline
# grayscale. The first LOSSY transform codec behind the seam: a real
# bitstream writer/reader (SOI/APP0/DQT/SOF/DHT/DRI/SOS/EOI marker walk,
# Annex-K quantization + Huffman tables, DC difference coding, 0xFF00
# byte stuffing, EOB run handling) around a real float64 DCT-II/IDCT
# pair. Rounding is pinned to floor(x + 0.5) at both quantization and
# sample reconstruction so decode is a deterministic function of the
# payload. All three public decoders (gray, color #6, progressive #7)
# are thin wrappers over ONE decoder, _jpeg_decode: one marker walk and
# one scan loop that runs T.81's progressive procedure for every scan
# (a baseline scan is its Ss=0, Se=63, Ah=Al=0 case with EOB0 only), so
# Huffman reading, restart handling and dequant+IDCT exist once. The
# three encoders share the header writer _jpeg_file, and the two
# baseline ones the scan writer _baseline_scan. The oracle-checked
# fixtures use flat 8x8 blocks with EVEN levels: for a flat block the
# DCT is DC-only and (with Annex-K q[0]=16) the quantized DC is exactly
# (v-128)/2 — integral for even v — so the lossy pipeline reproduces
# the source EXACTLY and DuckDB can replay the decoded statistic
# closed-form. The AC/quality path (where loss is real) is pinned in
# pytest by round-trip error bounds on random images.
# ---------------------------------------------------------------------------

# Annex K.1 luminance quantization table (zigzag-ordered at use site).
_JPEG_QTAB = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# Annex K.3 luminance DC Huffman spec: BITS (counts per code length
# 1..16) and HUFFVAL (the chroma DC table K.4 has the same HUFFVAL).
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
# Annex K.5 luminance AC Huffman spec.
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
# DHT segments of the luma tables: (class << 4 | id, BITS, HUFFVAL).
_LUMA_DHT = [(0x00, _DC_BITS, _DC_VALS), (0x10, _AC_BITS, _AC_VALS)]

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Start-of-frame markers of the Huffman DCT processes (T.81 B.1.1.3).
_SOF_MARKERS = (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7)


def _huff_codes(bits, vals):
    """Code assignment per T.81 C.2: codes of ascending length."""
    codes, code = {}, 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1s per spec

    def restart(self, m: int):
        """Emit RSTm (T.81 E.1.4): pad to a byte boundary, then the
        bare marker — markers are NOT byte-stuffed (only entropy FFs
        are; the flush pad's own FF, if any, IS stuffed by put)."""
        self.flush()
        self.buf.append(0xFF)
        self.buf.append(0xD0 + (m & 7))


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0:
                    raise ValueError("unexpected marker in entropy data")
                self.pos += 1  # skip stuffed 0x00
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self) -> int:
        """Realign to the next RSTm marker (T.81 E.2.4): discard the
        partial byte's remaining pad bits, step over an UNREAD stuffed
        pad byte (a flush pad of FF 00 whose bits no block consumed),
        then consume the two marker bytes. Returns m in 0..7 so the
        caller can verify the modulo-8 sequence."""
        self.n = 0
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and self.data[self.pos + 1] == 0x00
        ):
            self.pos += 2
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or not (0xD0 <= self.data[self.pos + 1] <= 0xD7)
        ):
            raise ValueError("expected RST marker at restart interval")
        m = self.data[self.pos + 1] - 0xD0
        self.pos += 2
        return m


def _magnitude(v: int):
    """JPEG magnitude category + appended bits (F.1.2.1.1)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _dct_mats():
    import numpy as np

    n = 8
    k = np.arange(n)
    m = np.sqrt(2.0 / n) * np.cos(
        (2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n)
    )
    m[0] *= 1.0 / np.sqrt(2.0)
    return m  # forward: M @ block @ M.T ; inverse: M.T @ coef @ M


def _quantize_block(blk, q, m):
    """float64 DCT + floor(x/q + 0.5) -> zigzag-ordered int64[64]."""
    import numpy as np

    coef = m @ (blk.astype(np.float64) - 128.0) @ m.T
    zq = np.floor(coef / q + 0.5).astype(np.int64)
    return zq.flatten()[_ZIGZAG]


def _quant_blocks_gray(img, qscale: int = 1):
    """Front half of both gray encoders: per-block (raster order)
    zigzag quantized coefficients + the Annex-K table scaled by
    qscale."""
    import numpy as np

    h, w = img.shape
    if h % 8 or w % 8:
        raise ValueError("jpeg encode requires 8-aligned dims")
    q = np.array(_JPEG_QTAB, np.int64).reshape(8, 8) * int(qscale)
    q = np.clip(q, 1, 255)
    m = _dct_mats()
    blocks = [
        _quantize_block(img[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8], q, m)
        for by in range(h // 8)
        for bx in range(w // 8)
    ]
    return blocks, q


def _encode_qblock(bw, zz, prev_dc, dc_codes, ac_codes) -> int:
    """Entropy-encode one zigzag-quantized baseline block; returns its
    DC (the next block's predictor)."""
    diff = int(zz[0]) - prev_dc
    size, bits = _magnitude(diff)
    c, ln = dc_codes[size]
    bw.put(c, ln)
    if size:
        bw.put(bits, size)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i] != 0), default=0)
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            if run == 16:
                c, ln = ac_codes[0xF0]  # ZRL
                bw.put(c, ln)
                run = 0
            continue
        size, bits = _magnitude(v)
        c, ln = ac_codes[(run << 4) | size]
        bw.put(c, ln)
        bw.put(bits, size)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]  # EOB
        bw.put(c, ln)
    return int(zz[0])


def _baseline_scan(mcus, codes, ri: int) -> bytes:
    """Entropy-code one baseline scan. ``mcus`` lists each MCU's
    (component index, zigzag block) pairs in coding order, ``codes``
    each component's (DC, AC) code maps. Every ``ri`` MCUs: pad, RSTm
    with m cycling 0..7 and every DC predictor reset (T.81 E.1.4)."""
    bw = _BitWriter()
    pred = [0] * len(codes)
    for n, mcu in enumerate(mcus):
        if ri and n and n % ri == 0:
            bw.restart((n // ri - 1) % 8)
            pred = [0] * len(codes)
        for k, zz in mcu:
            pred[k] = _encode_qblock(bw, zz, pred[k], *codes[k])
    bw.flush()
    return bytes(bw.buf)


def _jpeg_file(
    sof, h, w, comps, qtabs, dht, ri, scans, split_dqt=True
) -> bytes:
    """The header writer of all three encoders: SOI, APP0 (JFIF), DQT
    (one segment per (id, 8x8 table) in ``qtabs``, or one segment for
    all), the ``sof`` frame over ``comps`` [(id, sampling, quant id,
    DC<<4|AC table selector)], one DHT segment per (class<<4|id, BITS,
    HUFFVAL), DRI when ``ri``, then each ((Ss, Se, Ah, Al), entropy
    data) scan behind its SOS (every scan covers all components), and
    EOI."""
    import struct

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = [
        bytes([tid]) + bytes(int(v) for v in q.flatten()[_ZIGZAG])
        for tid, q in qtabs
    ]
    # APP0: JFIF 1.1, no density units, 1:1 density, no thumbnail
    app0 = b"JFIF\x00" + bytes((1, 1, 0, 0, 1, 0, 1, 0, 0))
    out = [b"\xff\xd8", seg(0xE0, app0)]
    if split_dqt:
        out += [seg(0xDB, t) for t in dqt]
    else:
        out.append(seg(0xDB, b"".join(dqt)))
    out.append(seg(
        sof,
        struct.pack(">BHHB", 8, h, w, len(comps))
        + b"".join(bytes(c[:3]) for c in comps),
    ))
    out += [seg(0xC4, bytes([tc]) + bytes(b) + bytes(v)) for tc, b, v in dht]
    if ri:
        out.append(seg(0xDD, struct.pack(">H", ri)))
    sel = bytes([len(comps)]) + b"".join(bytes((c[0], c[3])) for c in comps)
    for (ss, se, ah, al), data in scans:
        out += [seg(0xDA, sel + bytes((ss, se, (ah << 4) | al))), data]
    out.append(b"\xff\xd9")
    return b"".join(out)


def jpeg_encode_gray(img, qscale: int = 1, restart_interval: int = 0) -> bytes:
    """Encode an (h, w) uint8 grayscale array as baseline JPEG (SOF0,
    one component, Annex-K tables scaled by qscale). h and w must be
    multiples of 8 (no edge replication — fixtures are block-aligned).

    ``restart_interval`` > 0 writes a DRI segment (0xDD) and, after
    every that many MCUs (= blocks here: one non-interleaved
    component), pads to a byte boundary and emits RSTm with m cycling
    0..7 (T.81 E.1.4) — resetting the DC predictor, which is what
    makes restart markers RESYNC points: a decoder can re-enter the
    stream at any RST with no carried state (codec #9)."""
    blocks, q = _quant_blocks_gray(img, qscale)
    h, w = img.shape
    ri = int(restart_interval)
    luma = (_huff_codes(_DC_BITS, _DC_VALS), _huff_codes(_AC_BITS, _AC_VALS))
    data = _baseline_scan([[(0, zz)] for zz in blocks], [luma], ri)
    return _jpeg_file(
        0xC0, h, w, [(1, 0x11, 0, 0x00)], [(0, q)], _LUMA_DHT, ri,
        [((0, 63, 0, 0), data)],
    )


def _read_symbol(br, table):
    """Read one Huffman-coded symbol: extend the code a bit at a time
    until (length, code) names a symbol of ``table``."""
    ln, code = 0, 0
    for _ in range(16):
        code = (code << 1) | br.bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _ac_first(br, table, zz, k, se, al, eobrun) -> int:
    """AC first pass over zigzag band [k, se] of one block (T.81 G.1.2.2;
    a baseline block is the band 1..63 at Al=0). ``eobrun`` blocks still
    covered by an earlier EOBn are skipped. Returns the EOB run left for
    the following blocks."""
    if eobrun:
        return eobrun - 1
    while k <= se:
        sym = _read_symbol(br, table)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r < 15:  # EOBr: this block and 2^r - 1 + bits more end
                return (1 << r) - 1 + br.bits(r)
            k += 16  # ZRL
            continue
        if s > 10:
            raise ValueError("AC magnitude category out of range")
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        zz[k] = _extend(br.bits(s), s) << al
        k += 1
    return 0


def _ac_refine(br, table, zz, k, se, al, eobrun) -> int:
    """AC refinement pass over band [k, se] of one block (T.81 G.1.2.3,
    libjpeg decode_mcu_AC_refine): newly significant coefficients of
    magnitude 1 << al, plus one correction bit for every already-nonzero
    coefficient the span or the EOB run passes. Returns the EOB run
    left for the following blocks."""
    p1, m1 = 1 << al, -1 << al
    if eobrun == 0:
        while k <= se:
            sym = _read_symbol(br, table)
            r, s = sym >> 4, sym & 0x0F
            val = 0
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) + br.bits(r)
                    break
                # r == 15: ZRL, span 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("refine size must be 1")
                val = p1 if br.bit() else m1
            while k <= se:
                if zz[k] != 0:
                    if br.bit() and not (zz[k] & p1):
                        zz[k] += p1 if zz[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0 and br.bit() and not (zz[k] & p1):
                zz[k] += p1 if zz[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_scan(br, mcus, coef, tables, ss, se, ah, al, ri, baseline):
    """Decode one scan's entropy data into ``coef`` (per component, per
    block, zigzag lists): for each MCU of (component, block) pairs the
    DC pass (Ss=0: first, or a refinement bit when Ah>0), then the AC
    band through _ac_first/_ac_refine. Before every ``ri``-th MCU: RSTm
    realign with the modulo-8 check, every DC predictor and the EOB run
    reset. A baseline scan may only end blocks with EOB0."""
    preds = [0] * len(tables)
    eobrun = 0
    lo = max(ss, 1)
    for i, mcu in enumerate(mcus):
        if ri and i and i % ri == 0:
            got, want = br.sync_restart(), (i // ri - 1) % 8
            if got != want:
                raise ValueError(
                    f"RST sequence broken: got {got}, want {want}"
                )
            preds = [0] * len(tables)
            eobrun = 0
        for k, b in mcu:
            zz = coef[k][b]
            dc, ac = tables[k]
            if ss == 0:
                if ah:
                    if br.bit():
                        zz[0] |= 1 << al
                else:
                    size = _read_symbol(br, dc)
                    if size > 11:
                        raise ValueError("DC magnitude category out of range")
                    preds[k] += _extend(br.bits(size), size)
                    zz[0] = preds[k] << al
            if se:
                if ah:
                    eobrun = _ac_refine(br, ac, zz, lo, se, al, eobrun)
                else:
                    eobrun = _ac_first(br, ac, zz, lo, se, al, eobrun)
                    if eobrun and baseline:
                        raise ValueError("EOB run in a baseline scan")


def _deq_idct(zz, q, m):
    """Dequant + IDCT + level shift -> (8, 8) uint8."""
    import numpy as np

    coef = np.zeros(64, np.int64)
    coef[np.array(_ZIGZAG)] = zz
    blk = m.T @ (coef.reshape(8, 8) * q).astype(np.float64) @ m
    return np.clip(np.floor(blk + 128.0 + 0.5), 0, 255).astype(np.uint8)


def _jpeg_decode(payload: bytes, sof: int | None, ncomp: int):
    """The one T.81 decoder behind jpeg_decode_gray, jpeg_decode_color,
    jpeg_decode_gray_progressive and decode_features_jpeg_restart.
    ``sof`` is the frame the caller accepts (0xC0 baseline, 0xC2
    progressive, None for whichever of the two the payload's SOF
    segment declares) and ``ncomp`` its component count (1 gray, 3 for
    4:2:0 color); any other frame raises before a scan is read. One
    marker walk (multi-table DQT/DHT segments, unknown segments skipped
    by length); each SOS runs _jpeg_scan over single-component or
    interleaved MCUs, accumulating the coefficient plane; dequant +
    IDCT run once at EOI. Returns (per-component uint8 planes in frame
    order, n_scans, n_rst) — n_rst counts the RSTm markers inside the
    entropy-coded data, so marker-like bytes in COM/APP bodies never
    count. Truncation, a missing EOI or scan, and anything outside the
    subset raise ValueError — the strict contract line."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    n, pos = len(payload), 2
    qtabs, huff, ri = {}, {}, 0
    comps = None  # [(id, quant id, block rows, block cols)], frame order
    mcus = coef = None
    n_scans = n_rst = 0
    while True:
        if pos + 2 > n:
            raise ValueError("JPEG truncated before EOI")
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        end = pos + 4
        if end <= n:
            end = pos + 2 + struct.unpack_from(">H", payload, pos + 2)[0]
        if end < pos + 4 or end > n:
            raise ValueError("truncated JPEG segment")
        seg = payload[pos + 4:end]
        pos = end
        if marker == 0xDB:  # DQT: one or more tables
            o = 0
            while o < len(seg):
                if seg[o] & 0xF0:
                    raise ValueError("16-bit quant tables unsupported")
                if o + 65 > len(seg):
                    raise ValueError("truncated DQT segment")
                zq = [0] * 64
                for i, v in zip(_ZIGZAG, seg[o + 1:o + 65]):
                    zq[i] = v
                qtabs[seg[o]] = zq
                o += 65
        elif marker == 0xC4:  # DHT: one or more tables
            o = 0
            while o < len(seg):
                bits = list(seg[o + 1:o + 17])
                nv = sum(bits)
                if o + 17 + nv > len(seg):
                    raise ValueError("truncated DHT segment")
                codes = _huff_codes(bits, seg[o + 17:o + 17 + nv])
                huff[seg[o]] = {
                    (ln, c): sym for sym, (c, ln) in codes.items()
                }
                o += 17 + nv
        elif marker == 0xDD:
            if len(seg) != 2:
                raise ValueError("malformed DRI segment")
            ri = struct.unpack(">H", seg)[0]
        elif marker in _SOF_MARKERS:
            if marker not in ((0xC0, 0xC2) if sof is None else (sof,)):
                raise ValueError(
                    "non-progressive JPEG: use the baseline decoder"
                    if sof == 0xC2 else "non-baseline JPEG unsupported"
                )
            baseline = marker == 0xC0
            if comps is not None:
                raise ValueError("second SOF segment")
            if len(seg) < 6 or len(seg) != 6 + 3 * seg[5]:
                raise ValueError("malformed SOF segment")
            prec, h, w, nf = struct.unpack_from(">BHHB", seg)
            if prec != 8 or nf != ncomp:
                raise ValueError(
                    f"only 8-bit {'single' if ncomp == 1 else ncomp}"
                    "-component frames"
                )
            sampling = tuple(seg[7::3])
            if sampling != ((0x11,) if ncomp == 1 else (0x22, 0x11, 0x11)):
                raise ValueError(
                    "subsampling unsupported" if ncomp == 1
                    else "only 4:2:0 sampling supported"
                )
            side = 8 * (sampling[0] >> 4)  # MCU side in pixels
            if h % side or w % side:
                raise ValueError(
                    f"non-{side}-aligned dims unsupported (no padding)"
                )
            # every block codes its DC in at least one bit, so a frame
            # of more blocks than the payload has bits is corrupt (and
            # would allocate its coefficient plane before failing)
            if (h // 8) * (w // 8) > 8 * n:
                raise ValueError("frame larger than the payload can code")
            comps, mcus = [], [[] for _ in range((h // side) * (w // side))]
            for k, s in enumerate(sampling):
                hs, vs = s >> 4, s & 0x0F
                nby, nbx = h // side * vs, w // side * hs
                comps.append((seg[6 + 3 * k], seg[8 + 3 * k], nby, nbx))
                for i, mcu in enumerate(mcus):
                    my, mx = divmod(i, w // side)
                    mcu += [
                        (k, (my * vs + v) * nbx + mx * hs + u)
                        for v in range(vs)
                        for u in range(hs)
                    ]
            coef = [[[0] * 64 for _ in range(c[2] * c[3])] for c in comps]
        elif marker == 0xDA:
            if comps is None:
                raise ValueError("SOS before SOF")
            ns = seg[0] if seg else 0
            if len(seg) != 4 + 2 * ns:
                raise ValueError("malformed SOS segment")
            if ns != ncomp:
                raise ValueError(
                    "multi-component scans unsupported" if ncomp == 1
                    else "interleaved 3-component scan required"
                )
            if list(seg[1:1 + 2 * ns:2]) != [c[0] for c in comps]:
                raise ValueError("scan components do not match the frame")
            ss, se, ah, al = seg[-3], seg[-2], seg[-1] >> 4, seg[-1] & 0x0F
            if baseline and ((ss, se, ah, al) != (0, 63, 0, 0) or n_scans):
                raise ValueError("baseline takes one Ss=0 Se=63 Ah=Al=0 scan")
            if not baseline and (se > 63 or ss > se or (ss == 0 and se)):
                raise ValueError("bad progressive spectral selection")
            tables = []
            for t in seg[2:2 + 2 * ns:2]:
                dc, ac = huff.get(t >> 4), huff.get(0x10 | (t & 0x0F))
                if ss == 0 and not ah and dc is None:
                    raise ValueError("missing DC table")
                if se and ac is None:
                    raise ValueError("missing AC table")
                tables.append((dc, ac))
            # the entropy data runs to the next marker that is neither a
            # stuffed 0x00 nor an RSTm (restart markers are inside it)
            end = pos
            while True:
                end = payload.find(b"\xff", end)
                if end < 0 or end + 1 >= n:
                    raise ValueError("JPEG entropy stream unterminated")
                if payload[end + 1] and not 0xD0 <= payload[end + 1] <= 0xD7:
                    break
                n_rst += payload[end + 1] != 0
                end += 2
            _jpeg_scan(
                _BitReader(payload[pos:end]), mcus, coef, tables,
                ss, se, ah, al, ri, baseline,
            )
            n_scans += 1
            pos = end
    if comps is None or not n_scans:
        raise ValueError("JPEG missing SOF/SOS")
    m = _dct_mats()
    planes = []
    for (_, qid, nby, nbx), blocks in zip(comps, coef):
        if qid not in qtabs:
            raise ValueError("JPEG missing DQT for component")
        q = np.array(qtabs[qid], np.int64).reshape(8, 8)
        plane = np.zeros((nby * 8, nbx * 8), np.uint8)
        for i, zz in enumerate(blocks):
            by, bx = divmod(i, nbx)
            plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = _deq_idct(zz, q, m)
        planes.append(plane)
    return planes, n_scans, n_rst


def jpeg_decode_gray(payload: bytes):
    """Decode a baseline grayscale JPEG produced by ANY conforming
    writer of this subset (one component, optional restart intervals,
    8-bit) to ((h, w) uint8 array, n_blocks) through _jpeg_decode;
    ValueError on anything outside the subset (progressive,
    multi-component, 12-bit) — the strict contract line."""
    (y,), _, _ = _jpeg_decode(payload, 0xC0, 1)
    return y, y.size // 64


def _flat_gray(d: int, blocks: int):
    """The gray JPEG fixture image: flat 8x8 blocks at the EVEN level
    v(by, bx) = 2*((id*7 + by*3 + bx*5) % 100) + 40."""
    import numpy as np

    img = np.zeros((blocks * 8, blocks * 8), np.uint8)
    for by in range(blocks):
        for bx in range(blocks):
            v = 2 * ((d * 7 + by * 3 + bx * 5) % 100) + 40
            img[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = v
    return img


def _splice_com(p: bytes, d: int, com: bytes = b"fixture comment") -> bytes:
    """The JPEG fixtures' marker-walk trap: a COM segment holding ``com``
    right after SOI on ids % 3 == 0."""
    import struct

    if d % 3:
        return p
    return p[:2] + b"\xff\xfe" + struct.pack(">H", len(com) + 2) + com + p[2:]


def _block_wsum(plane, side: int) -> float:
    """Position-weighted sum of (side x side) block means, weight
    by*B+bx+1 in raster order — block-order and DC-predictor errors
    change it. Means of uint8 blocks are exact dyadic rationals, so the
    sum is float64-exact and DuckDB-replayable."""
    nby, nbx = plane.shape[0] // side, plane.shape[1] // side
    acc = 0.0
    for by in range(nby):
        for bx in range(nbx):
            blk = plane[by * side:(by + 1) * side, bx * side:(bx + 1) * side]
            acc += (int(blk.sum()) / (side * side)) * (by * nbx + bx + 1)
    return acc


def synth_jpeg_payload(
    df: DataFrame, id_col: str = "doc_id", blocks: int = 2
) -> DataFrame:
    """Deterministic grayscale JPEG fixtures: a (blocks*8 x blocks*8)
    image of FLAT 8x8 blocks whose levels are closed-form in the id —
    v(by, bx) = 2*((id*7 + by*3 + bx*5) % 100) + 40, always EVEN, so
    the Annex-K DC quantization ((v-128)/2) is exact and the lossy
    pipeline reproduces the source bit-for-bit (module comment). A COM
    marker segment is inserted on ids % 3 == 0 (the decoder must walk
    unknown segments, not assume fixed offsets). Encoded with the real
    entropy coder: DC differences chain across blocks, so a decoder
    that loses the predictor corrupts every later block's value."""
    return _synth(
        df, id_col,
        lambda d: _splice_com(jpeg_encode_gray(_flat_gray(d, blocks)), d),
    )


JPEG_REAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_blocks", LongType()),
        StructField("wsum_gray", DoubleType()),
    ]
)


def decode_features_jpeg(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL JPEG decode in the mapInPandas slot: full marker walk +
    Huffman decode + dequant + IDCT, then the position-weighted sum of
    per-block means (_block_wsum)."""

    def row(p: bytes):
        img, n_blocks = jpeg_decode_gray(p)
        h, w = img.shape
        return w, h, n_blocks, _block_wsum(img, 8)

    return _features(df, id_col, payload_col, JPEG_REAL_SCHEMA, row)


# ---------------------------------------------------------------------------
# REAL codec #5: GIF (87a/89a), palette + LZW.
# The first dictionary-coded codec behind the seam: a real GIF bitstream
# writer/reader — logical screen descriptor, global color table, 89a
# extension-block skipping, image descriptor, and the GIF variant of
# LZW with variable code widths (clear/end codes, dictionary growth,
# width bumps at 2^n, LSB-first bit packing, 255-byte-max data
# sub-blocks). Lossless, so the oracle replays decoded pixels
# closed-form from the id in exact integer arithmetic — no float
# boundary at all. The encoder serializes its code stream by SIMULATING
# the decoder's code-width evolution (width-sync by construction: the
# encoder's add-entry timing runs one step ahead of the decoder's, so
# deriving widths from the encoder's own table state desyncs the END
# code on exact power-of-two boundaries). Both decoders (this one and
# the animated #8) read the file through one container walk, _gif_walk.
# ---------------------------------------------------------------------------


def _gif_lzw_codes(indices, min_code: int) -> list[int]:
    """GIF-LZW compress a pixel-index sequence into a code list
    (clear ... data ... end); code WIDTHS are assigned separately."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table: dict[tuple[int, ...], int] = {
        (i,): i for i in range(1 << min_code)
    }
    next_code = end + 1
    out = [clear]
    w: tuple[int, ...] = ()
    for k in indices:
        wk = w + (int(k),)
        if wk in table:
            w = wk
            continue
        out.append(table[w])
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
        w = (int(k),)
    if w:
        out.append(table[w])
    out.append(end)
    return out


def _gif_pack_codes(codes: list[int], min_code: int) -> bytes:
    """Serialize codes LSB-first, deriving each code's width from the
    DECODER's state machine (width = min_code+1 after a clear; +1 every
    time the decoder's next free slot reaches 2^width, capped at 12).
    The decoder adds one table entry per data code AFTER the first."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    next_code = end + 1
    awaiting_first = True
    acc = n_bits = 0
    out = bytearray()
    for c in codes:
        acc |= c << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8
        if c == clear:
            width, next_code, awaiting_first = min_code + 1, end + 1, True
        elif c == end:
            break
        elif awaiting_first:
            awaiting_first = False
        elif next_code < 4096:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_image(indices, min_code: int, max_sub_block: int) -> bytes:
    """Image descriptor (full canvas, no local table) + LZW minimum
    code size + the code stream cut into data sub-blocks + terminator."""
    import struct

    h, w = indices.shape
    data = _gif_pack_codes(
        _gif_lzw_codes(indices.reshape(-1), min_code), min_code
    )
    out = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0) + bytes((min_code,))
    for i in range(0, len(data), max_sub_block):
        blk = data[i:i + max_sub_block]
        out += bytes((len(blk),)) + blk
    return out + b"\x00"


def _gif_head(version: bytes, h: int, w: int, palette) -> tuple[bytes, int]:
    """Header + logical screen descriptor (global color table present,
    color resolution 8) + the table; returns it with the LZW minimum
    code size for the palette size (a power of two >= 4)."""
    import struct

    n = len(palette)
    assert n >= 4 and n & (n - 1) == 0
    out = b"GIF" + version + struct.pack(
        "<HHBBB", w, h, 0x80 | 0x70 | (n.bit_length() - 2), 0, 0
    )
    out += b"".join(bytes((int(r), int(g), int(b))) for r, g, b in palette)
    return out, max(2, n.bit_length() - 1)


def gif_encode(
    indices,
    palette,
    version: bytes = b"87a",
    comment: bytes | None = None,
    max_sub_block: int = 255,
) -> bytes:
    """Encode an (h x w) uint8 palette-index array as a real GIF.

    ``palette`` is an (n x 3) uint8 array, n a power of two >= 4.
    ``comment`` (89a only) inserts a Comment Extension block before the
    image — a decoder must walk extension sub-blocks to reach the
    descriptor. ``max_sub_block`` (<= 255) forces LZW data to split
    into short sub-blocks, breaking single-read shortcuts."""
    h, w = indices.shape
    out, min_code = _gif_head(version, h, w, palette)
    if comment is not None:
        assert version == b"89a"
        out += b"\x21\xfe"
        for i in range(0, len(comment), 255):
            blk = comment[i:i + 255]
            out += bytes((len(blk),)) + blk
        out += b"\x00"
    return out + _gif_image(indices, min_code, max_sub_block) + b"\x3b"


def _gif_lzw_expand(data: bytes, min_code: int, n_pixels: int) -> bytes:
    """The variable-width LZW expansion (clear resets, KwKwK, width
    bumps at 2^n, 4096 cap). A stream that ends before its end code,
    a code past the table, or a pixel count other than ``n_pixels``
    raises ValueError."""
    if not 2 <= min_code <= 8:
        raise ValueError(f"bad LZW minimum code size {min_code}")
    clear, end = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    table = [bytes((i,)) for i in range(clear)] + [b"", b""]
    next_code = end + 1
    acc = n_bits = bytepos = 0
    prev: int | None = None
    pix = bytearray()
    while True:
        while n_bits < width:
            try:
                acc |= data[bytepos] << n_bits
            except IndexError:
                raise ValueError("LZW data ends before its end code") from None
            bytepos += 1
            n_bits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        n_bits -= width
        if code == clear:
            table = table[: end + 1]
            next_code, width, prev = end + 1, min_code + 1, None
            continue
        if code == end:
            break
        if code < next_code:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError("corrupt LZW stream")
        if prev is not None and next_code < 4096:
            table.append(table[prev] + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        pix += entry
        prev = code
    if len(pix) != n_pixels:
        raise ValueError(f"decoded {len(pix)} pixels, wanted {n_pixels}")
    return bytes(pix)


def _gif_walk(payload: bytes):
    """The one GIF container walk: header, logical screen, global
    color table, then every block up to the trailer. Returns
    (n_colors, blocks) with blocks in file order: (label, [sub-block
    bytes]) for an extension, (None, rgb uint8 (h, w, 3)) for an image.
    Rejects honestly (ValueError) what the subset leaves out — local
    color tables, interlace, partial-canvas images, transparency — and
    truncation anywhere, including inside the LZW stream."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    n = len(payload)
    if n < 13:
        raise ValueError("truncated GIF header")
    sw, sh, packed = struct.unpack_from("<HHB", payload, 6)
    if not packed & 0x80:
        raise ValueError("no global color table")
    n_colors = 2 << (packed & 0x07)
    pos = 13 + 3 * n_colors
    if pos > n:
        raise ValueError("truncated GIF color table")
    palette = np.frombuffer(payload, np.uint8, 3 * n_colors, 13).reshape(
        n_colors, 3
    )

    def chain(pos):
        subs = []
        while pos < n and payload[pos]:
            ln = payload[pos]
            if pos + 1 + ln > n:
                break
            subs.append(payload[pos + 1:pos + 1 + ln])
            pos += 1 + ln
        if pos >= n or payload[pos]:
            raise ValueError("truncated GIF sub-block chain")
        return subs, pos + 1

    blocks = []
    while pos < n and payload[pos] != 0x3B:
        intro = payload[pos]
        if intro == 0x21 and pos + 2 <= n:
            label = payload[pos + 1]
            subs, pos = chain(pos + 2)
            if label == 0xF9:  # Graphic Control Extension
                if not subs or len(subs[0]) != 4:
                    raise ValueError("malformed graphic control extension")
                if subs[0][0] & 0x01:
                    raise ValueError("transparency unsupported")
            blocks.append((label, subs))
        elif intro == 0x2C and pos + 11 <= n:
            left, top, w, h, ipacked = struct.unpack_from(
                "<HHHHB", payload, pos + 1
            )
            if ipacked & 0x80:
                raise ValueError("local color table unsupported")
            if ipacked & 0x40:
                raise ValueError("interlaced GIF unsupported")
            if (left, top, w, h) != (0, 0, sw, sh):
                raise ValueError("partial-canvas frames unsupported")
            min_code = payload[pos + 10]
            subs, pos = chain(pos + 11)
            idx = np.frombuffer(
                _gif_lzw_expand(b"".join(subs), min_code, w * h), np.uint8
            ).reshape(h, w)
            if idx.size and int(idx.max()) >= n_colors:
                raise ValueError("pixel index outside the color table")
            blocks.append((None, palette[idx]))
        elif intro in (0x21, 0x2C):
            raise ValueError("truncated GIF block")
        else:
            raise ValueError(f"unexpected block 0x{intro:02x}")
    if pos >= n:
        raise ValueError("truncated GIF (no trailer)")
    return n_colors, blocks


def gif_decode(payload: bytes):
    """REAL GIF decode through _gif_walk (header + LSD + GCT walk,
    extension skipping, image descriptor, sub-block reassembly, the full
    variable-width LZW expansion). Returns (rgb uint8 (h, w, 3),
    n_colors, n_extensions). Accepts exactly one image followed by the
    trailer — multi-image GIFs belong to gif_decode_animated — and
    rejects what _gif_walk rejects: the seam contract, not a silent
    wrong answer."""
    n_colors, blocks = _gif_walk(payload)
    if [label for label, _ in blocks].count(None) != 1 \
            or blocks[-1][0] is not None:
        raise ValueError("missing trailer (multi-image unsupported)")
    return blocks[-1][1], n_colors, len(blocks) - 1


def synth_gif_payload(
    df: DataFrame, id_col: str = "doc_id", side: int = 8
) -> DataFrame:
    """Deterministic GIF fixtures: (side x side) images whose palette
    SIZE varies with the id (4/8/16 colors -> LZW min code 2/3/4, so
    every width-growth schedule is exercised), pixel indices
    k_i = (id*17 + 3i) % n_colors at raster index i, palette entry c =
    ((id*7+11c)%256, (id*19+5c)%251, (id*23+13c)%247) — a formula
    family disjoint from the BMP/PNG fixtures. ids % 3 == 0 become 89a
    files with a Comment Extension (the decoder must walk it); LZW data
    splits into (4 + id%5*2)-byte sub-blocks — below the 13-byte
    minimum compressed size of these fixtures, so EVERY payload carries
    at least two (trap pinned in tests)."""
    import numpy as np

    i = np.arange(side * side, dtype=np.int64)

    def make(d: int) -> bytes:
        nc = 4 << (d % 3)
        is89 = d % 3 == 0
        return gif_encode(
            ((d * 17 + 3 * i) % nc).astype(np.uint8).reshape(side, side),
            _gif_fixture_palette(d, nc),
            version=b"89a" if is89 else b"87a",
            comment=b"synthetic fixture" if is89 else None,
            max_sub_block=4 + (d % 5) * 2,
        )

    return _synth(df, id_col, make)


def _gif_fixture_palette(d: int, nc: int):
    """Palette entry c = ((id*7+11c)%256, (id*19+5c)%251, (id*23+13c)%247)
    — shared by the single-frame and animated GIF fixtures."""
    import numpy as np

    c = np.arange(nc, dtype=np.int64)
    return np.stack(
        [(d * 7 + 11 * c) % 256, (d * 19 + 5 * c) % 251,
         (d * 23 + 13 * c) % 247],
        axis=-1,
    ).astype(np.uint8)


GIF_REAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_colors", LongType()),
        StructField("n_extensions", LongType()),
        StructField("wsum_r", LongType()),
        StructField("wsum_g", LongType()),
        StructField("wsum_b", LongType()),
    ]
)


def decode_features_gif(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL GIF decode in the mapInPandas slot: position-weighted
    per-channel sums (weight i+1 at raster index i — LZW order, palette
    mapping, and sub-block reassembly errors all change the number),
    plus the palette size and extension count (closed-form in the id,
    so a reader that skips the actual walk cannot echo them). All
    integers — the one codec statistic with no float boundary at all."""
    import numpy as np

    def row(p: bytes):
        rgb, nc, n_ext = gif_decode(p)
        h, w, _ = rgb.shape
        wt = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
        return (w, h, nc, n_ext, *(
            int((rgb[:, :, ci].astype(np.int64) * wt).sum())
            for ci in range(3)
        ))

    return _features(df, id_col, payload_col, GIF_REAL_SCHEMA, row)


# ---------------------------------------------------------------------------
# REAL codec #6: color baseline JPEG (SOF0, 3 components, 4:2:0).
# Same codec as the grayscale kernel (_jpeg_decode, _baseline_scan,
# _jpeg_file) plus the three pieces a color JPEG actually needs: (1) the
# JFIF color space, implemented as the libjpeg-style SCALED-INTEGER
# transform (x*256-scaled coefficients, arithmetic >> 8 = floor-div) so
# every step is exact integer arithmetic the SQL oracle replays
# verbatim; (2) 2x2 chroma subsampling (box average, floor((sum+2)/4))
# with nearest-neighbor upsampling on decode; (3) interleaved MCUs — per
# 16x16 MCU: Y00 Y01 Y10 Y11 Cb Cr, separate DC predictors per
# component, luma tables 0 / chroma tables 1 (Annex-K quant + Huffman).
# Progressive color, 12-bit, and any sampling other than 4:2:0 are
# rejected honestly (ValueError), the same strict contract line as the
# grayscale kernel. The remaining stubbed modality is video (container
# parsing); see decode_stub.
# ---------------------------------------------------------------------------

# Annex-K chroma quantization table (natural order) and Huffman tables.
_JPEG_QTAB_C = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]

_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def rgb_to_ycbcr_int(r, g, b):
    """Scaled-integer JFIF forward transform (numpy arrays or ints).

    All three rows sum correctly (77+150+29 = 256; the chroma rows sum
    to 0), arithmetic >> 8 is floor division — bit-identical to the
    SQL oracle's FLOOR((..)/256.0). Output clipped to [0, 255]."""
    import numpy as np

    r = np.asarray(r, np.int64)
    g = np.asarray(g, np.int64)
    b = np.asarray(b, np.int64)
    y = (77 * r + 150 * g + 29 * b + 128) >> 8
    cb = ((-43 * r - 85 * g + 128 * b + 128) >> 8) + 128
    cr = ((128 * r - 107 * g - 21 * b + 128) >> 8) + 128
    clip = lambda x: np.clip(x, 0, 255)  # noqa: E731
    return clip(y), clip(cb), clip(cr)


def ycbcr_to_rgb_int(y, cb, cr):
    """Scaled-integer inverse (359/256 ~ 1.402, 88/256 ~ 0.344136,
    183/256 ~ 0.714136, 454/256 ~ 1.772), clipped to [0, 255]."""
    import numpy as np

    y = np.asarray(y, np.int64)
    u = np.asarray(cb, np.int64) - 128
    v = np.asarray(cr, np.int64) - 128
    r = y + ((359 * v + 128) >> 8)
    g = y - ((88 * u + 183 * v + 128) >> 8)
    b = y + ((454 * u + 128) >> 8)
    clip = lambda x: np.clip(x, 0, 255)  # noqa: E731
    return clip(r), clip(g), clip(b)


def jpeg_encode_color(
    img, split_dqt: bool = False, restart_interval: int = 0
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as baseline 4:2:0 color JPEG
    (SOF0, Annex-K luma+chroma tables, interleaved MCUs). h and w must
    be multiples of 16 (one full MCU grid — no edge replication).
    split_dqt writes the two quant tables as two DQT segments instead
    of one two-table segment; conforming decoders must accept both.
    ``restart_interval`` > 0 writes DRI and emits RSTm every that many
    INTERLEAVED MCUs (all three components' predictors reset — T.81
    E.1.4; codec #9)."""
    import numpy as np

    h, w, nc = img.shape
    if nc != 3 or h % 16 or w % 16:
        raise ValueError("jpeg_encode_color requires (16k, 16k, 3)")
    y, cb, cr = rgb_to_ycbcr_int(
        img[:, :, 0], img[:, :, 1], img[:, :, 2]
    )
    # 2x2 box subsample, floor((sum + 2) / 4)
    cb_s = (cb[0::2, 0::2] + cb[0::2, 1::2] + cb[1::2, 0::2]
            + cb[1::2, 1::2] + 2) >> 2
    cr_s = (cr[0::2, 0::2] + cr[0::2, 1::2] + cr[1::2, 0::2]
            + cr[1::2, 1::2] + 2) >> 2
    qy = np.clip(np.array(_JPEG_QTAB, np.int64).reshape(8, 8), 1, 255)
    qc = np.clip(np.array(_JPEG_QTAB_C, np.int64).reshape(8, 8), 1, 255)
    m = _dct_mats()
    luma = (_huff_codes(_DC_BITS, _DC_VALS), _huff_codes(_AC_BITS, _AC_VALS))
    chroma = (
        _huff_codes(_DC_BITS_C, _DC_VALS),
        _huff_codes(_AC_BITS_C, _AC_VALS_C),
    )
    mcus = []
    for my in range(h // 16):
        for mx in range(w // 16):
            mcus.append(
                [
                    (0, _quantize_block(
                        y[r0:r0 + 8, c0:c0 + 8], qy, m
                    ))
                    for r0 in (my * 16, my * 16 + 8)
                    for c0 in (mx * 16, mx * 16 + 8)
                ]
                + [
                    (k, _quantize_block(
                        plane[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8], qc, m
                    ))
                    for k, plane in ((1, cb_s), (2, cr_s))
                ]
            )
    ri = int(restart_interval)
    data = _baseline_scan(mcus, [luma, chroma, chroma], ri)
    return _jpeg_file(
        0xC0, h, w,
        [(1, 0x22, 0, 0x00), (2, 0x11, 1, 0x11), (3, 0x11, 1, 0x11)],
        [(0, qy), (1, qc)],
        _LUMA_DHT + [(0x01, _DC_BITS_C, _DC_VALS),
                     (0x11, _AC_BITS_C, _AC_VALS_C)],
        ri, [((0, 63, 0, 0), data)], split_dqt=split_dqt,
    )


def jpeg_decode_color(payload: bytes):
    """Decode a baseline 4:2:0 color JPEG produced by ANY conforming
    writer of this subset to ((h, w, 3) uint8 RGB, n_mcus):
    _jpeg_decode's interleaved-MCU path (per-component DC predictors,
    DRI/RSTm — codec #9) + nearest-neighbor chroma upsample +
    scaled-integer YCbCr->RGB. ValueError on anything outside the
    subset (progressive, 12-bit, non-4:2:0 sampling) — the strict
    contract line."""
    import numpy as np

    (y, cb, cr), _, _ = _jpeg_decode(payload, 0xC0, 3)
    r, g, b = ycbcr_to_rgb_int(
        y,
        cb.repeat(2, axis=0).repeat(2, axis=1),
        cr.repeat(2, axis=0).repeat(2, axis=1),
    )
    return np.stack([r, g, b], axis=2).astype(np.uint8), y.size // 256


def synth_jpeg_color_payload(
    df: DataFrame, id_col: str = "doc_id", mcus: int = 2
) -> DataFrame:
    """Deterministic color JPEG fixtures: a (mcus*16 x mcus*16 x 3)
    image of FLAT 16x16 MCUs whose RGB is closed-form in the id, with
    the green channel SNAPPED onto the exact-reconstruction grid: g =
    g0 + k for the smallest k in [0, 16] such that (1) the luma from
    the scaled-integer transform is EVEN (the Annex-K luma DC quant
    /16 is then exact — an odd luma sits exactly on the floor(x+0.5)
    tie and the float DCT's ~1e-12 noise would decide it) and (2)
    neither chroma DC is ≡ 4 (mod 8) (where 17*dc/8 + 128.5 lands
    exactly on an integer and reconstruction would tie the same way).
    tests/test_pipeline.py proves exhaustively that k exists for every
    fixture id, and the DuckDB oracle replays the same argmin-k search
    in SQL. Per-MCU colors differ, so all three DC predictor chains
    carry real differences; DQT packing alternates one-segment /
    two-segment on id parity and a COM marker lands on ids % 3 == 0
    (decoders must walk, not assume offsets)."""
    import numpy as np

    def make(d: int) -> bytes:
        img = np.zeros((mcus * 16, mcus * 16, 3), np.uint8)
        for mi in range(mcus):
            for mj in range(mcus):
                img[mi * 16:(mi + 1) * 16, mj * 16:(mj + 1) * 16] = (
                    jpeg_color_fixture_rgb(d, mi, mj)
                )
        return _splice_com(jpeg_encode_color(img, split_dqt=d % 2 == 1), d)

    return _synth(df, id_col, make)


def jpeg_color_fixture_rgb(d: int, mi: int, mj: int):
    """The closed-form fixture color for (id, MCU row, MCU col) — the
    argmin-k grid snap the oracle SQL mirrors term for term."""
    import math

    r = (d * 13 + mi * 7 + mj * 3) % 256
    g0 = (d * 17 + mi * 5 + mj * 11) % 230
    b = (d * 29 + mi * 3 + mj * 13) % 256
    for k in range(17):
        g = g0 + k
        y, cb, cr = (int(x) for x in rgb_to_ycbcr_int(r, g, b))
        if y % 2:
            continue
        dcb = math.floor(8 * (cb - 128) / 17 + 0.5)
        dcr = math.floor(8 * (cr - 128) / 17 + 0.5)
        if dcb % 8 == 4 or dcr % 8 == 4:
            continue
        return r, g, b
    raise ValueError(f"no grid-snapped green for id {d} MCU ({mi},{mj})")


JPEG_COLOR_REAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_mcus", LongType()),
        StructField("wsum_r", DoubleType()),
        StructField("wsum_g", DoubleType()),
        StructField("wsum_b", DoubleType()),
    ]
)


def decode_features_jpeg_color(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL color JPEG decode in the mapInPandas slot, then per-channel
    position-weighted sums of per-MCU means (_block_wsum over 16x16
    MCUs) — block-order, predictor-chain, or channel-swap errors all
    change the numbers. MCU means of uint8 are 256ths (exact dyadic
    rationals), float64-exact, DuckDB-replayable."""

    def row(p: bytes):
        img, n_mcus = jpeg_decode_color(p)
        h, w, _ = img.shape
        return (w, h, n_mcus, *(
            _block_wsum(img[:, :, ci], 16) for ci in range(3)
        ))

    return _features(df, id_col, payload_col, JPEG_COLOR_REAL_SCHEMA, row)


# ---------------------------------------------------------------------------
# REAL codec #7: PROGRESSIVE grayscale JPEG (SOF2) — spectral selection
# + successive approximation, the most common real-world JPEG variant
# the strict baseline contract rejects (jpeg_decode_gray raises on
# 0xC2). The quantized coefficient plane is IDENTICAL to baseline; what
# changes is the entropy layer: coefficients arrive across SIX scans
# (DC first at Al=1, two AC spectral bands at Al=1, their two
# refinement scans, a DC refinement scan), each scan a separate SOS
# segment with its own Ss/Se/Ah/Al header, EOB-run coding in AC-first
# scans, and the buffered-correction-bit protocol in AC-refine scans
# (T.81 G.1.2; the encode side mirrors libjpeg's encode_mcu_AC_refine
# discipline: correction bits for already-significant coefficients are
# buffered and flushed after the next EOBRUN/ZRL/newly-significant
# emission). Decoding is _jpeg_decode's general case: every scan
# accumulates into the coefficient plane and dequant+IDCT run once at
# EOI — so a decoder that drops ANY scan (refinement included)
# reconstructs wrong pixels, which the closed-form fixtures catch
# exactly.
# ---------------------------------------------------------------------------


def _prog_point_fwd(v: int, al: int) -> int:
    """AC point transform (G.1.2.2): divide by 2^Al truncating toward
    zero (NOT an arithmetic shift, which floors)."""
    return v >> al if v >= 0 else -((-v) >> al)


# Progressive AC scans need EOBn symbols (RRRR<<4 with SSSS=0, n>0) that
# the baseline Annex-K AC table simply does not contain — real
# progressive files always carry their own DHT (libjpeg emits optimized
# per-scan tables). This fixed table assigns uniform 8-bit codes to the
# full progressive AC alphabet: EOB0..EOB14, ZRL, and every (run, size)
# pair with size 1..10 — 176 symbols, Kraft sum 176/256 < 1, and the
# all-ones code is unused (T.81 C.2 requires that). Suboptimal
# compression, valid JPEG; the decoder reads whatever DHT the file
# declares, so it is not coupled to this choice.
_AC_PROG_VALS = (
    [n << 4 for n in range(15)]         # EOB0..EOB14
    + [0xF0]                            # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_AC_PROG_BITS = [0, 0, 0, 0, 0, 0, 0, len(_AC_PROG_VALS), 0, 0, 0, 0, 0,
                 0, 0, 0]


class _ProgACWriter:
    """AC scan emitter with EOB-run + buffered correction bits. The
    bit-ordering contract (T.81 G.1.2.3 / libjpeg encode_mcu_AC_refine):
    correction bits for already-significant coefficients are BUFFERED
    and emitted only after the next Huffman symbol they ride behind —
    the EOBn that covers their blocks, the ZRL that spans them, or the
    newly-significant (run,1)+sign that passes them. Emitting them
    early desyncs the decoder's span walk."""

    def __init__(self, bw, ac_codes):
        self.bw = bw
        self.ac = ac_codes
        self.eobrun = 0
        self.pending = []  # correction bits riding behind the EOBRUN

    def _emit(self, sym):
        c, ln = self.ac[sym]
        self.bw.put(c, ln)

    def emit_pending(self):
        for b in self.pending:
            self.bw.put(b, 1)
        self.pending = []

    def emit_eobrun(self):
        """Flush a pending EOB run (no-op when zero: the buffered bits
        then stay buffered for the NEXT symbol to carry)."""
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            if nbits > 14:
                raise ValueError("EOB run too long for one symbol")
            self._emit(nbits << 4)
            if nbits:
                self.bw.put(self.eobrun - (1 << nbits), nbits)
            self.eobrun = 0
            self.emit_pending()

    def count_eob(self):
        self.eobrun += 1
        if self.eobrun == 0x7FFF:  # libjpeg's forced-flush bound
            self.emit_eobrun()


def jpeg_encode_gray_progressive(
    img, qscale: int = 1, restart_interval: int = 0
) -> bytes:
    """Encode an (h, w) uint8 grayscale array as PROGRESSIVE JPEG
    (SOF2, one component, six scans, Al=1 successive approximation,
    AC spectral bands 1-5 and 6-63). Coefficients match
    jpeg_encode_gray exactly; only the entropy layering differs, so
    the decoded pixels are bit-identical to the baseline path.

    ``restart_interval`` > 0 writes DRI and emits RSTm every that many
    MCUs WITHIN EVERY SCAN (T.81 G: restarts apply per scan; the m
    sequence restarts at 0 each scan). At a restart the DC predictor
    resets and — the progressive-specific rule — the EOB run and its
    buffered correction bits are flushed first: EOB runs cannot cross a
    restart boundary (codec #9)."""
    blocks, q = _quant_blocks_gray(img, qscale)
    h, w = img.shape
    ri = int(restart_interval)
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_AC_PROG_BITS, _AC_PROG_VALS)

    def at_restart(n_done, bw, wtr=None):
        """Boundary duty before block n_done (0-based): flush the EOB
        run, pad, emit the cycling marker. Returns True if reset."""
        if ri and n_done and n_done % ri == 0:
            if wtr is not None:
                wtr.emit_eobrun()
            bw.restart((n_done // ri - 1) % 8)
            return True
        return False

    def dc_first_scan(al):
        bw = _BitWriter()
        prev = 0
        for i, zz in enumerate(blocks):
            if at_restart(i, bw):
                prev = 0
            v = int(zz[0]) >> al  # DC point transform IS arithmetic
            size, bits = _magnitude(v - prev)
            prev = v
            c, ln = dc_codes[size]
            bw.put(c, ln)
            if size:
                bw.put(bits, size)
        bw.flush()
        return bytes(bw.buf)

    def dc_refine_scan(al):
        bw = _BitWriter()
        for i, zz in enumerate(blocks):
            at_restart(i, bw)
            bw.put((int(zz[0]) >> al) & 1, 1)
        bw.flush()
        return bytes(bw.buf)

    def ac_first_scan(ss, se, al):
        bw = _BitWriter()
        wtr = _ProgACWriter(bw, ac_codes)
        for bi, zz in enumerate(blocks):
            at_restart(bi, bw, wtr)
            run = 0
            for k in range(ss, se + 1):
                v = _prog_point_fwd(int(zz[k]), al)
                if v == 0:
                    run += 1
                    continue
                wtr.emit_eobrun()
                while run > 15:
                    wtr._emit(0xF0)
                    run -= 16
                size, bits = _magnitude(v)
                wtr._emit((run << 4) | size)
                bw.put(bits, size)
                run = 0
            if run > 0:  # band ends in zeros: this block joins an EOB run
                wtr.count_eob()
        wtr.emit_eobrun()
        bw.flush()
        return bytes(bw.buf)

    def ac_refine_scan(ss, se, ah, al):
        """Emitted by SIMULATING the normative decoder's span walk
        (T.81 G.2, decode_mcu_AC_refine shape): each ZRL or
        newly-significant symbol is followed by exactly the correction
        bits of the already-significant coefficients its span passes —
        bit placement is positional, so a buffer-everything-then-flush
        encoder desyncs whenever a correction bit falls beyond a ZRL's
        16-zero span (found by the round-trip fuzz test). Bits for
        positions covered by an EOB run are the only ones buffered;
        they ride behind the eventual EOBn symbol."""
        bw = _BitWriter()
        wtr = _ProgACWriter(bw, ac_codes)
        for bi, zz in enumerate(blocks):
            at_restart(bi, bw, wtr)
            absv = {}
            newly = []
            for k in range(ss, se + 1):
                t = abs(int(zz[k])) >> al
                absv[k] = t
                if t == 1:
                    newly.append(k)
            k = ss
            ni = 0
            while k <= se:
                if ni >= len(newly):
                    # no more newly-significant coefs: the block's tail
                    # rides an EOB run; its correction bits buffer
                    # behind the future EOBn
                    for i in range(k, se + 1):
                        if absv[i] > 1:
                            wtr.pending.append(absv[i] & 1)
                    wtr.count_eob()
                    break
                j = newly[ni]
                r = sum(1 for i in range(k, j) if absv[i] == 0)
                while r > 15:
                    wtr.emit_eobrun()
                    wtr._emit(0xF0)
                    zeros = 0
                    while zeros < 16:  # the span the decoder walks
                        if absv[k] == 0:
                            zeros += 1
                        else:
                            bw.put(absv[k] & 1, 1)
                        k += 1
                    r -= 16
                wtr.emit_eobrun()
                wtr._emit((r << 4) | 1)
                bw.put(1 if int(zz[j]) > 0 else 0, 1)
                for i in range(k, j):
                    if absv[i] > 1:
                        bw.put(absv[i] & 1, 1)
                k = j + 1
                ni += 1
        wtr.emit_eobrun()
        bw.flush()
        return bytes(bw.buf)

    scans = [
        ((0, 0, 0, 1), dc_first_scan(1)),
        ((1, 5, 0, 1), ac_first_scan(1, 5, 1)),
        ((6, 63, 0, 1), ac_first_scan(6, 63, 1)),
        ((1, 5, 1, 0), ac_refine_scan(1, 5, 1, 0)),
        ((6, 63, 1, 0), ac_refine_scan(6, 63, 1, 0)),
        ((0, 0, 1, 0), dc_refine_scan(0)),
    ]
    return _jpeg_file(
        0xC2, h, w, [(1, 0x11, 0, 0x00)], [(0, q)],
        [(0x00, _DC_BITS, _DC_VALS), (0x10, _AC_PROG_BITS, _AC_PROG_VALS)],
        ri, scans,
    )


def jpeg_decode_gray_progressive(payload: bytes):
    """Decode a PROGRESSIVE single-component 8-bit JPEG (SOF2,
    optional restart intervals) produced by any conforming writer of
    this subset to ((h, w) uint8, n_scans) through _jpeg_decode: the
    coefficient plane accumulates across every scan (DC/AC,
    first/refinement, EOB runs; DRI/RSTm per scan — codec #9), then
    dequant + IDCT run once. ValueError on baseline (SOF0) or anything
    outside the subset — the strict contract line."""
    (y,), n_scans, _ = _jpeg_decode(payload, 0xC2, 1)
    return y, n_scans


def synth_jpeg_progressive_payload(
    df: DataFrame, id_col: str = "doc_id", blocks: int = 2
) -> DataFrame:
    """Progressive-JPEG fixtures over the SAME closed-form image as
    synth_jpeg_payload (flat EVEN 8x8 blocks -> exact reconstruction),
    so the oracle reuses the baseline entry's symbolic replay. A COM
    segment on ids % 3 == 0 forces the marker walk; the six-scan
    script (DC/AC first + refinements) makes a decoder that skips any
    scan — or mis-handles EOB runs / correction bits — decode wrong
    gray levels, not just fail."""
    return _synth(
        df, id_col,
        lambda d: _splice_com(
            jpeg_encode_gray_progressive(_flat_gray(d, blocks)), d
        ),
    )


JPEG_PROG_REAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_scans", LongType()),
        StructField("wsum_gray", DoubleType()),
    ]
)


def decode_features_jpeg_progressive(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL progressive-JPEG decode in the mapInPandas slot: the same
    position-weighted per-block-mean statistic as decode_features_jpeg,
    plus the scan count (fixtures always carry the six-scan script)."""

    def row(p: bytes):
        img, n_scans = jpeg_decode_gray_progressive(p)
        h, w = img.shape
        return w, h, n_scans, _block_wsum(img, 8)

    return _features(df, id_col, payload_col, JPEG_PROG_REAL_SCHEMA, row)


# ---------------------------------------------------------------------------
# REAL codec #9: restart intervals (DRI/RSTm) across the JPEG family.
# The most common real-world JPEG feature the strict subset previously
# rejected: cameras and libjpeg emit DRI for error resilience, so a
# "decodes any conforming writer of the subset" contract without it is
# hollow. The writers emit markers in _baseline_scan (gray and color)
# and the progressive scan writers; the one decoder, _jpeg_scan,
# realigns, checks the sequence and resets its state at each marker.
# The fixture below exercises BOTH the baseline path (even ids) and the
# progressive path (odd ids, where the per-scan rules differ: the m
# sequence restarts per scan and EOB runs may not cross the boundary).
# ---------------------------------------------------------------------------


def synth_jpeg_restart_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    blocks: int = 3,
    ri_base: int = 2,
    ri_prog: int = 3,
) -> DataFrame:
    """Deterministic restart-interval JPEG fixtures on the flat-block
    grid of synth_jpeg_payload (v = 2*((id*7 + by*3 + bx*5) % 100) + 40,
    always even -> exact reconstruction): EVEN ids encode baseline with
    DRI=ri_base, ODD ids encode progressive (six scans) with
    DRI=ri_prog. The DC-predictor reset at each marker is load-bearing:
    a decoder that realigns but keeps the predictor corrupts every
    post-marker block's value (and the weighted sum); one that ignores
    the marker bytes dies on an invalid Huffman code."""

    def make(d: int) -> bytes:
        img = _flat_gray(d, blocks)
        if d % 2 == 0:
            p = jpeg_encode_gray(img, restart_interval=ri_base)
        else:
            p = jpeg_encode_gray_progressive(img, restart_interval=ri_prog)
        return _splice_com(p, d)

    return _synth(df, id_col, make)


JPEG_RESTART_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_restarts", LongType()),
        StructField("wsum_gray", DoubleType()),
    ]
)


def decode_features_jpeg_restart(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL restart-interval decode in the mapInPandas slot: one
    _jpeg_decode call takes the frame type (SOF0 baseline or SOF2
    progressive, both DRI-aware) from its own marker walk, and emits the
    same position-weighted block-mean statistic plus the count of RSTm
    markers inside the entropy-coded data. Bytes that look like markers
    in a COM or APP body neither pick the decoder nor count."""

    def row(p: bytes):
        (img,), _, n_rst = _jpeg_decode(p, None, 1)
        h, w = img.shape
        return w, h, n_rst, _block_wsum(img, 8)

    return _features(df, id_col, payload_col, JPEG_RESTART_SCHEMA, row)


# ---------------------------------------------------------------------------
# REAL codec #8: ANIMATED GIF (89a multi-frame) + frame sampling — the
# honest step toward the video-container gap: a real multi-frame
# temporal container in pure Python (true video codecs need ffmpeg,
# which this environment lacks; the CONTAINER mechanics — frame
# enumeration, per-frame timing metadata, stride sampling — are
# exactly what sample_frames stubs, and here they are real). Encoder
# writes a NETSCAPE2.0 application extension (loop count), then per
# frame a Graphic Control Extension (delay in centiseconds) + image
# descriptor + LZW data; decoder reads the single-frame kernel's
# container walk (_gif_walk) and collects frames, delays and the loop
# count. The single-frame gif_decode keeps its strict one-image
# contract (it still rejects multi-image files); this pair OWNS the
# animated subset — full-canvas frames, global palette, no
# interlace/local tables/transparency composition (rejected with
# ValueError, the contract line).
# ---------------------------------------------------------------------------


def gif_encode_animated(
    frames,
    palette,
    delays_cs,
    loop_count: int = 0,
    max_sub_block: int = 255,
) -> bytes:
    """Encode a list of (h x w) uint8 index arrays as an animated
    GIF89a: NETSCAPE2.0 loop extension, then per frame a Graphic
    Control Extension carrying its delay (centiseconds) + image
    descriptor + LZW data. Same palette/sub-block conventions as
    gif_encode."""
    import struct

    h, w = frames[0].shape
    assert len(frames) == len(delays_cs) and len(frames) >= 1
    out, min_code = _gif_head(b"89a", h, w, palette)
    # NETSCAPE2.0 application extension: loop count (0 = forever)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
    out += struct.pack("<H", loop_count) + b"\x00"
    for frame, delay in zip(frames, delays_cs):
        assert frame.shape == (h, w)
        # GCE: disposal=1 (leave), no transparency, delay in cs
        out += b"\x21\xf9\x04\x04" + struct.pack("<H", int(delay))
        out += b"\x00\x00"
        out += _gif_image(frame, min_code, max_sub_block)
    return out + b"\x3b"


def gif_decode_animated(payload: bytes):
    """REAL animated-GIF decode over _gif_walk's block sequence —
    application/comment extensions, per-frame Graphic Control
    Extensions (delays), image descriptors, sub-block reassembly, LZW
    per frame. Returns (frames: list of rgb uint8 (h, w, 3), delays_cs:
    list[int], loop_count: int | None, n_colors). Rejects interlace,
    local color tables, partial-canvas frames, and transparency
    composition honestly (ValueError) — full animation compositing is
    out of the subset; these frames are each complete."""
    import struct

    if payload[:6] != b"GIF89a":
        raise ValueError("not an animated GIF (need 89a)")
    n_colors, blocks = _gif_walk(payload)
    frames, delays = [], []
    loop_count = pending_delay = None
    for label, body in blocks:
        if label is None:
            frames.append(body)
            delays.append(pending_delay or 0)
            pending_delay = None
        elif label == 0xF9:  # Graphic Control Extension
            pending_delay = struct.unpack_from("<H", body[0], 1)[0]
        elif label == 0xFF and body and body[0] == b"NETSCAPE2.0":
            if len(body) < 2 or len(body[1]) < 3:
                raise ValueError("malformed NETSCAPE2.0 extension")
            loop_count = struct.unpack_from("<H", body[1], 1)[0]
    if not frames:
        raise ValueError("no frames")
    return frames, delays, loop_count, n_colors


def synth_gif_animated_payload(
    df: DataFrame, id_col: str = "doc_id", side: int = 8
) -> DataFrame:
    """Deterministic animated-GIF fixtures: 2 + id%4 solid frames over
    an 8-color palette (palette formula family shared with the
    single-frame fixtures), frame f filled with index (id*3 + 5f) % 8,
    delay 4 + (id + f) % 7 centiseconds — every feature below is
    closed-form in (id, f). A Comment Extension lands between frames
    on ids % 3 == 0 (the walker must skip mid-stream extensions, not
    just leading ones)."""
    import numpy as np

    def make(d: int) -> bytes:
        n_frames = 2 + d % 4
        p = gif_encode_animated(
            [
                np.full((side, side), (d * 3 + 5 * f) % 8, np.uint8)
                for f in range(n_frames)
            ],
            _gif_fixture_palette(d, 8),
            [4 + (d + f) % 7 for f in range(n_frames)],
            loop_count=d % 3,
            max_sub_block=6 + (d % 5) * 2,
        )
        if d % 3 == 0:
            # splice a Comment Extension between frame 0 and 1:
            # right before the SECOND GCE (0x21 0xF9)
            second = p.index(b"\x21\xf9", p.index(b"\x21\xf9") + 2)
            p = p[:second] + b"\x21\xfe\x07fixture\x00" + p[second:]
        return p

    return _synth(df, id_col, make)


GIF_ANIM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_sampled", LongType()),
        StructField("total_delay_cs", LongType()),
        StructField("loop_count", LongType()),
        StructField("wsum_r", LongType()),
        StructField("wsum_g", LongType()),
        StructField("wsum_b", LongType()),
    ]
)


def sample_frames_gif(
    df: DataFrame,
    stride: int = 2,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL frame sampling over the animated-GIF container: decode,
    take frames 0, stride, 2*stride, ... (the decode-then-stride
    pattern sample_frames stubs), and report per-channel frame-mean
    sums weighted by 1-based sample position — frame order, palette
    mapping, and the GCE delay walk all land in the numbers. Solid
    fixture frames make every mean exact-integer."""
    import numpy as np

    def row(p: bytes):
        frames, delays, loops, _nc = gif_decode_animated(p)
        sampled = frames[::stride]
        acc = [0, 0, 0]
        for si, fr in enumerate(sampled):
            npx = fr.shape[0] * fr.shape[1]
            for ci in range(3):
                s = int(fr[:, :, ci].astype(np.int64).sum())
                assert s % npx == 0, "fixture frames are solid"
                acc[ci] += (s // npx) * (si + 1)
        return (
            len(frames), len(sampled), int(sum(delays)),
            -1 if loops is None else int(loops), *acc,
        )

    return _features(df, id_col, payload_col, GIF_ANIM_SCHEMA, row)
