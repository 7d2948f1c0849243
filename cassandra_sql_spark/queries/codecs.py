"""Multimodal payloads and real codecs (``multimodal_*`` and the
``jpeg_*``, ``png_*``, ``gif_*`` and ``audio_*`` decoders of
``pipeline.multimodal``).

Fixtures are synthesized from ``doc_id`` so that the decoded pixels or
samples are closed-form; each oracle replays the decode arithmetic from
``doc_id`` and never echoes a constant.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline import multimodal
from cassandra_sql_spark.queries.base import Q, df_q


# The oracle replays the WHOLE pipeline symbolically from the fixture's
# closed form: samples s_i = ((id*37 + i*13) % 4001) - 2000, n and the
# sample rate varying by id, JUNK chunk (20 bytes) on odd ids. The Spark
# side must genuinely chunk-walk the RIFF bytes and read the fmt header
# — an offset-44 shortcut or an echoed sample rate diverges on half the
# fixtures. RMS radicands are exact int64 sums, so SQRT is correctly
# rounded and identical on both engines.
_AUDIO_ORACLE = """
WITH d AS (
  SELECT doc_id,
         64 + (doc_id % 3) * 32 AS n,
         8000 + (doc_id % 2) * 3050 AS sr
  FROM documents WHERE doc_id < 200
), s AS (
  SELECT doc_id, n, sr, UNNEST(generate_series(0, n - 1)) AS i
  FROM d
), v AS (
  SELECT doc_id, n, sr, i,
         ((doc_id * 37 + i * 13) % 4001) - 2000 AS x,
         (i * 4) // n AS q
  FROM s
), l AS (
  SELECT doc_id, n, sr, x, q,
         LAG(x) OVER (PARTITION BY doc_id ORDER BY i) AS px
  FROM v
), a AS (
  SELECT doc_id, MAX(n) AS n, MAX(sr) AS sr,
         MAX(ABS(x)) AS peak,
         COUNT(*) FILTER (px IS NOT NULL AND x * px < 0) AS zc,
         SUM(CASE WHEN q = 0 THEN x * x ELSE 0 END) AS ss1,
         SUM(CASE WHEN q = 1 THEN x * x ELSE 0 END) AS ss2,
         SUM(CASE WHEN q = 2 THEN x * x ELSE 0 END) AS ss3,
         SUM(CASE WHEN q = 3 THEN x * x ELSE 0 END) AS ss4
  FROM l GROUP BY doc_id
)
SELECT doc_id,
       CAST(sr AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(44 + 2 * n + 20 * (doc_id % 2) AS BIGINT) AS n_bytes,
       CAST(peak AS BIGINT) AS peak_abs,
       CAST(zc AS BIGINT) AS zero_crossings,
       SQRT(CAST(ss1 AS DOUBLE) / (n // 4)) AS rms_q1,
       SQRT(CAST(ss2 AS DOUBLE) / (n // 4)) AS rms_q2,
       SQRT(CAST(ss3 AS DOUBLE) / (n // 4)) AS rms_q3,
       SQRT(CAST(ss4 AS DOUBLE) / (n // 4)) AS rms_q4
FROM a
"""

# Oracle for the WAV pitch detector: replay the square-wave samples
# (s_i = +-1500 by (i // h) % 2, h = 3 + id%5, n = 96) per lag, take
# argmax with ties to the lowest lag. The Spark side decodes REAL RIFF
# bytes; only the oracle touches the closed form.
_PITCH_ORACLE = """
WITH d AS (
  SELECT doc_id, 3 + doc_id % 5 AS h FROM documents WHERE doc_id < 200
),
lag AS (SELECT UNNEST(generate_series(2, 16)) AS l),
s AS (
  SELECT doc_id, h, l, UNNEST(generate_series(0, 95 - l)) AS i
  FROM d, lag
),
v AS (
  SELECT doc_id, l,
         (CASE WHEN (i // h) % 2 = 0 THEN 1500 ELSE -1500 END)
         * (CASE WHEN ((i + l) // h) % 2 = 0 THEN 1500 ELSE -1500 END)
           AS p
  FROM s
),
r AS (SELECT doc_id, l, CAST(SUM(p) AS BIGINT) AS rl FROM v GROUP BY doc_id, l),
best AS (
  SELECT doc_id, l, rl,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY rl DESC, l) AS rk
  FROM r
),
e AS (
  SELECT doc_id, CAST(96 AS BIGINT) AS n_samples,
         CAST(96 * 1500 * 1500 AS BIGINT) AS r0
  FROM d
)
SELECT e.doc_id, e.n_samples, CAST(b.l AS BIGINT) AS best_lag,
       b.rl AS r_best, e.r0
FROM best b JOIN e ON b.doc_id = e.doc_id WHERE b.rk = 1
"""


# -- REAL GIF codec (codec #5) -----------------------------------------------
# Deterministic 8x8 palette fixtures (palette size 4/8/16 by id, pixel
# indices and palette colors closed-form in the id — see
# multimodal.synth_gif_payload) are encoded with the real gif_encode
# (variable-width LZW, multi-sub-block data, 89a Comment Extensions on
# ids % 3 == 0) and decoded by the real chunk-walking gif_decode inside
# mapInPandas. The oracle recomputes the position-weighted channel sums
# symbolically from the id: a decoder that desyncs LZW code widths,
# drops a sub-block boundary, maps the palette wrong, or fails to walk
# the extension chain reconstructs different pixels (or dies) and
# mismatches. Everything is exact BIGINT arithmetic — the one codec
# entry with no float boundary.
def _gif_decode_real(spark, sf):
    from cassandra_sql_spark.io import load
    from cassandra_sql_spark.pipeline import multimodal

    return multimodal.decode_features_gif(
        multimodal.synth_gif_payload(
            load(spark, sf, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 200),
            side=8,
        )
    )


_GIF_ORACLE = """
WITH d AS (
  SELECT doc_id, CAST(4 * (1 << (doc_id % 3)) AS BIGINT) AS nc
  FROM documents WHERE doc_id < 200
), i AS (
  SELECT UNNEST(generate_series(0, 63)) AS i
), px AS (
  SELECT doc_id, nc, i, (doc_id * 17 + 3 * i) % nc AS k
  FROM d, i
)
SELECT doc_id,
       CAST(8 AS BIGINT) AS width,
       CAST(8 AS BIGINT) AS height,
       MAX(nc) AS n_colors,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_extensions,
       CAST(SUM((i + 1) * ((doc_id * 7 + 11 * k) % 256)) AS BIGINT)
         AS wsum_r,
       CAST(SUM((i + 1) * ((doc_id * 19 + 5 * k) % 251)) AS BIGINT)
         AS wsum_g,
       CAST(SUM((i + 1) * ((doc_id * 23 + 13 * k) % 247)) AS BIGINT)
         AS wsum_b
FROM px GROUP BY doc_id
"""


# REAL JPEG codec behind the seam (the first LOSSY one): see
# pipeline/multimodal.py. Fixtures are flat EVEN 8x8 blocks, for which
# the Annex-K quantized DC is exactly (v-128)/2 — the full Huffman/
# DCT/dequant pipeline reproduces the source EXACTLY, so the oracle
# recomputes the decoded per-block weighted means closed-form from
# doc_id. COM segments on ids % 3 == 0 force a real marker walk; the
# DC difference chain makes block-order/predictor bugs corrupt the
# weighted sum. The lossy path (where reconstruction error is real) is
# pinned in pytest by round-trip error bounds. ``blocks`` is the side
# of the block grid; ``count`` is the entry's own count column.
def _jpeg_gray_oracle(blocks: int, count: str) -> str:
    side = 8 * blocks
    return f"""
WITH d AS (
  SELECT doc_id FROM documents WHERE doc_id < 200
), b AS (
  SELECT UNNEST(generate_series(0, {blocks - 1})) AS by
), c AS (
  SELECT UNNEST(generate_series(0, {blocks - 1})) AS bx
), blk AS (
  SELECT doc_id, by, bx,
         2 * ((doc_id * 7 + by * 3 + bx * 5) % 100) + 40 AS v
  FROM d, b, c
)
SELECT doc_id,
       CAST({side} AS BIGINT) AS width,
       CAST({side} AS BIGINT) AS height,
       {count},
       SUM(CAST(v AS DOUBLE) * (by * {blocks} + bx + 1)) AS wsum_gray
FROM blk GROUP BY doc_id
"""


_JPEG_COLOR_ORACLE = """
WITH d AS (
  SELECT doc_id FROM documents WHERE doc_id < 200
), m AS (
  SELECT UNNEST(generate_series(0, 1)) AS mi
), n AS (
  SELECT UNNEST(generate_series(0, 1)) AS mj
), kk AS (
  SELECT UNNEST(generate_series(0, 16)) AS k
), cand AS (
  SELECT doc_id, mi, mj, k,
         (doc_id * 13 + mi * 7 + mj * 3) % 256 AS r,
         (doc_id * 17 + mi * 5 + mj * 11) % 230 + k AS g,
         (doc_id * 29 + mi * 3 + mj * 13) % 256 AS b
  FROM d, m, n, kk
), ycc AS (
  -- scaled-integer forward transform (>> 8 == FLOOR(x/256)), clipped
  SELECT doc_id, mi, mj, k,
         LEAST(255, GREATEST(0, CAST(FLOOR(
           (77 * r + 150 * g + 29 * b + 128) / 256.0) AS BIGINT))) AS y,
         LEAST(255, GREATEST(0, CAST(FLOOR(
           (-43 * r - 85 * g + 128 * b + 128) / 256.0) AS BIGINT)
           + 128)) AS cb,
         LEAST(255, GREATEST(0, CAST(FLOOR(
           (128 * r - 107 * g - 21 * b + 128) / 256.0) AS BIGINT)
           + 128)) AS cr
  FROM cand
), dcs AS (
  -- quantized DCs of a flat block: coef = 8*(v-128); luma q 16,
  -- chroma q 17 (Annex-K [0][0] entries)
  SELECT *,
         CAST(FLOOR((y - 128) / 2.0 + 0.5) AS BIGINT) AS dcy,
         CAST(FLOOR(8 * (cb - 128) / 17.0 + 0.5) AS BIGINT) AS dcb,
         CAST(FLOOR(8 * (cr - 128) / 17.0 + 0.5) AS BIGINT) AS dcr
  FROM ycc
), valid AS (
  -- the fixture's argmin-k grid snap: even luma (exact /16 quant),
  -- no chroma DC on the mod-8 reconstruction tie
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY doc_id, mi, mj ORDER BY k)
           AS rk
  FROM dcs
  WHERE y % 2 = 0
    AND ((dcb % 8) + 8) % 8 <> 4
    AND ((dcr % 8) + 8) % 8 <> 4
), px AS (
  -- dequant + IDCT of a DC-only block: flat value q*dc/8 + 128
  SELECT doc_id, mi, mj,
         LEAST(255, GREATEST(0, 2 * dcy + 128)) AS yr,
         LEAST(255, GREATEST(0, CAST(FLOOR(
           17 * dcb / 8.0 + 128.5) AS BIGINT))) AS cbr,
         LEAST(255, GREATEST(0, CAST(FLOOR(
           17 * dcr / 8.0 + 128.5) AS BIGINT))) AS crr
  FROM valid WHERE rk = 1
), rgbout AS (
  -- scaled-integer inverse transform, clipped
  SELECT doc_id, mi, mj,
         LEAST(255, GREATEST(0, yr + CAST(FLOOR(
           (359 * (crr - 128) + 128) / 256.0) AS BIGINT))) AS ro,
         LEAST(255, GREATEST(0, yr - CAST(FLOOR(
           (88 * (cbr - 128) + 183 * (crr - 128) + 128) / 256.0)
           AS BIGINT))) AS go,
         LEAST(255, GREATEST(0, yr + CAST(FLOOR(
           (454 * (cbr - 128) + 128) / 256.0) AS BIGINT))) AS bo
  FROM px
)
SELECT doc_id,
       CAST(32 AS BIGINT) AS width,
       CAST(32 AS BIGINT) AS height,
       CAST(4 AS BIGINT) AS n_mcus,
       SUM(CAST(ro AS DOUBLE) * (mi * 2 + mj + 1)) AS wsum_r,
       SUM(CAST(go AS DOUBLE) * (mi * 2 + mj + 1)) AS wsum_g,
       SUM(CAST(bo AS DOUBLE) * (mi * 2 + mj + 1)) AS wsum_b
FROM rgbout GROUP BY doc_id
"""

# -- REAL codec #8: animated GIF frame sampling ----------------------------------
# The temporal-container entry: decode a real multi-frame GIF89a
# (NETSCAPE loop extension, per-frame Graphic Control delays,
# mid-stream comment extensions on ids % 3 == 0), stride-sample frames
# 0,2,4,..., and report frame-position-weighted channel means + the
# container metadata. Everything is closed-form in (doc_id, frame):
# the oracle replays frame selection, palette mapping, and the delay
# walk symbolically. A decoder that ignores the GCE blocks gets
# total_delay_cs wrong; one that mis-orders or drops frames gets the
# weighted sums wrong; one that misses the loop extension gets
# loop_count wrong.
_GIF_ANIM_ORACLE = """
WITH d AS (
  SELECT doc_id FROM documents WHERE doc_id < 200
), fr AS (
  SELECT doc_id, f
  FROM d, UNNEST(generate_series(0, 5)) AS t(f)
  WHERE f < 2 + doc_id % 4
), samp AS (
  SELECT doc_id, f // 2 AS si, (doc_id * 3 + 5 * f) % 8 AS k
  FROM fr WHERE f % 2 = 0
), agg AS (
  SELECT doc_id,
         CAST(SUM(((doc_id * 7 + 11 * k) % 256) * (si + 1)) AS BIGINT)
           AS wsum_r,
         CAST(SUM(((doc_id * 19 + 5 * k) % 251) * (si + 1)) AS BIGINT)
           AS wsum_g,
         CAST(SUM(((doc_id * 23 + 13 * k) % 247) * (si + 1)) AS BIGINT)
           AS wsum_b,
         CAST(COUNT(*) AS BIGINT) AS n_sampled
  FROM samp GROUP BY doc_id
), del AS (
  SELECT doc_id,
         CAST(SUM(4 + (doc_id + f) % 7) AS BIGINT) AS total_delay_cs,
         CAST(COUNT(*) AS BIGINT) AS n_frames
  FROM fr GROUP BY doc_id
)
SELECT a.doc_id, del.n_frames, a.n_sampled, del.total_delay_cs,
       CAST(a.doc_id % 3 AS BIGINT) AS loop_count,
       a.wsum_r, a.wsum_g, a.wsum_b
FROM agg a JOIN del ON a.doc_id = del.doc_id
"""

# -- REAL codec #9: DRI/RSTm restart intervals --------------------------------
# Fixtures: flat even 8x8 blocks (exact reconstruction) on a 3x3 block
# grid; EVEN ids baseline DRI=2 (4 markers), ODD ids progressive DRI=3
# (2 markers x 6 scans = 12). The oracle replays the decoded weighted
# block-mean sum closed-form from doc_id — identical to the
# jpeg_decode_real argument — plus the marker-count arithmetic. The DC
# predictor reset at each RSTm is what the weighted sum pins: a decoder
# that realigns but keeps its predictor reconstructs wrong levels for
# every post-marker block.
_JPEG_RESTART_ORACLE = _jpeg_gray_oracle(
    3,
    "CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 12 END AS BIGINT)"
    " AS n_restarts",
)

QUERIES: dict[str, Q] = {
    # Multimodal plumbing: binary payload + typed metadata struct.
    "multimodal_binary_meta": df_q(
        lambda spark, sf: multimodal.with_binary_payload(
            load(spark, sf, "documents")
        ).select(
            "doc_id",
            F.col("media_meta.n_bytes").alias("n_bytes"),
            F.col("media_meta.mime").alias("mime"),
            F.col("media_meta.checksum").alias("checksum"),
            F.octet_length("payload").cast("long").alias("payload_bytes"),
        ),
        ("documents",),
        oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               'application/octet-stream' AS mime,
               md5(text) AS checksum,
               CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
        FROM documents
        """,
    ),
    # Video-style frame sampling over the binary payload: fixed-size byte
    # frames, every 2nd kept. Pure JVM binary arithmetic; oracle replays
    # it on the (ASCII) text — byte and char offsets coincide.
    "multimodal_frame_sample": df_q(
        lambda spark, sf: multimodal.sample_frames(
            multimodal.with_binary_payload(load(spark, sf, "documents")),
            frame_size=256,
            every=2,
        ),
        ("documents",),
        oracle="""
        SELECT doc_id,
               CAST(i AS BIGINT) AS frame_idx,
               CAST(length(substring(text, CAST(i * 256 + 1 AS INT), 256))
                 AS BIGINT) AS n_frame_bytes,
               md5(substring(text, CAST(i * 256 + 1 AS INT), 256))
                 AS frame_md5
        FROM documents,
             UNNEST(generate_series(0,
               CAST(ceil(length(text) / 256.0) AS BIGINT) - 1)) AS t(i)
        WHERE i % 2 = 0
        """,
    ),
    # Arrow-batched resize (stubbed codec: deterministic byte tiling) —
    # the mapInPandas slot a real PIL/ffmpeg resize drops into. The fake
    # is deterministic, so even the Python path gets an exact oracle.
    "multimodal_resize": df_q(
        lambda spark, sf: multimodal.resize_media(
            multimodal.with_binary_payload(load(spark, sf, "documents")),
            target_bytes=512,
        ),
        ("documents",),
        oracle="""
        WITH r AS (
          SELECT doc_id, length(text) AS n_in,
                 substring(repeat(text,
                   CAST(ceil(512.0 / length(text)) AS INT)), 1, 512) AS rz
          FROM documents WHERE length(text) > 0
        )
        SELECT doc_id,
               CAST(n_in AS BIGINT) AS n_bytes_in,
               CAST(length(rz) AS BIGINT) AS n_bytes_out,
               md5(rz) AS resized_md5
        FROM r
        """,
    ),
    # Arrow-batched feature extraction. Oracle-checked since round 8 via
    # the scalar twin (r5 ARRAY-fix pattern): the same byte-bucket kernel
    # in the same mapInPandas slot emits exact integer bucket counts as
    # CSV (decode_stub's fractions are counts/n_bytes). The oracle is
    # byte-faithful for ALL of Unicode: DuckDB has no blob indexing, so
    # it expands each code point to its UTF-8 byte sequence
    # arithmetically (the adversarial corpus's multibyte doc caught the
    # earlier chars==bytes shortcut).
    "multimodal_features": df_q(
        lambda spark, sf: multimodal.byte_histogram_csv(
            multimodal.with_binary_payload(load(spark, sf, "documents"))
        ),
        ("documents",),
        oracle="""
        WITH d AS (
          SELECT doc_id, text FROM documents WHERE length(text) > 0
        ), cp AS (
          SELECT doc_id, ord(substring(text, i, 1)) AS c
          FROM d, UNNEST(generate_series(1, length(text))) AS t(i)
        ), byt AS (
          SELECT doc_id,
                 UNNEST(CASE
                   WHEN c < 128 THEN [c]
                   WHEN c < 2048 THEN [192 + c // 64, 128 + c % 64]
                   WHEN c < 65536 THEN [224 + c // 4096,
                                        128 + (c // 64) % 64,
                                        128 + c % 64]
                   ELSE [240 + c // 262144, 128 + (c // 4096) % 64,
                         128 + (c // 64) % 64, 128 + c % 64]
                 END) AS byte
          FROM cp
        ), bk AS (
          SELECT doc_id, byte % 8 AS bucket FROM byt
        ), h AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
                 SUM(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS c0,
                 SUM(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS c1,
                 SUM(CASE WHEN bucket = 2 THEN 1 ELSE 0 END) AS c2,
                 SUM(CASE WHEN bucket = 3 THEN 1 ELSE 0 END) AS c3,
                 SUM(CASE WHEN bucket = 4 THEN 1 ELSE 0 END) AS c4,
                 SUM(CASE WHEN bucket = 5 THEN 1 ELSE 0 END) AS c5,
                 SUM(CASE WHEN bucket = 6 THEN 1 ELSE 0 END) AS c6,
                 SUM(CASE WHEN bucket = 7 THEN 1 ELSE 0 END) AS c7
          FROM bk GROUP BY doc_id
        )
        SELECT doc_id, nb AS n_bytes,
               c0 || ',' || c1 || ',' || c2 || ',' || c3 || ',' ||
               c4 || ',' || c5 || ',' || c6 || ',' || c7 AS hist_csv
        FROM h
        """,
    ),
    # REAL multimodal codec behind the REAL-CODEC.md seam: deterministic
    # 8x8 BMP fixtures (pixel values closed-form in doc_id, encoded with
    # the real bottom-up/BGR/padded writer) are decoded by the real
    # parser and box-resized to 4x4 inside mapInPandas; the output is a
    # position-weighted per-channel sum over the resized blocks. The
    # oracle recomputes the same statistic symbolically from doc_id — a
    # decoder that skips the bottom-up flip, the BGR swap, or the row
    # stride reads different pixels and hash-mismatches. All arithmetic
    # is quarter-integer, float64-exact on both engines.
    "multimodal_decode_real": df_q(
        lambda spark, sf: multimodal.decode_resize_bmp(
            multimodal.synth_bmp_payload(
                load(spark, sf, "documents")
                .select("doc_id")
                .filter(F.col("doc_id") < 200),
                side=8,
            ),
            out_side=4,
        ),
        ("documents",),
        oracle="""
        WITH d AS (
          SELECT doc_id FROM documents WHERE doc_id < 200
        ), b AS (
          SELECT UNNEST(generate_series(0, 15)) AS blk
        ), c AS (
          SELECT UNNEST(generate_series(0, 3)) AS cell
        ), px AS (
          SELECT doc_id, blk,
                 ((blk // 4) * 2 + cell // 2) * 8
                   + ((blk % 4) * 2 + cell % 2) AS i
          FROM d, b, c
        ), m AS (
          SELECT doc_id, blk,
                 CAST(SUM((doc_id * 31 + i) % 256) AS DOUBLE) / 4 AS mr,
                 CAST(SUM((doc_id * 17 + 2 * i) % 251) AS DOUBLE) / 4 AS mg,
                 CAST(SUM((doc_id * 7 + 3 * i) % 253) AS DOUBLE) / 4 AS mb
          FROM px GROUP BY doc_id, blk
        )
        SELECT doc_id,
               CAST(8 AS BIGINT) AS width,
               CAST(8 AS BIGINT) AS height,
               CAST(246 AS BIGINT) AS n_bytes,
               SUM(mr * (blk + 1)) AS wsum_r,
               SUM(mg * (blk + 1)) AS wsum_g,
               SUM(mb * (blk + 1)) AS wsum_b
        FROM m GROUP BY doc_id
        """,
    ),
    "audio_decode_real": df_q(
        lambda spark, sf: multimodal.audio_features_wav(
            multimodal.synth_wav_payload(
                load(spark, sf, "documents")
                .select("doc_id")
                .filter(F.col("doc_id") < 200)
            )
        ),
        ("documents",),
        oracle=_AUDIO_ORACLE,
    ),
    "audio_pitch_autocorr": df_q(
        lambda spark, sf: multimodal.audio_pitch_wav(
            multimodal.synth_wav_square(
                load(spark, sf, "documents")
                .select("doc_id")
                .filter(F.col("doc_id") < 200)
            )
        ),
        ("documents",),
        oracle=_PITCH_ORACLE,
    ),
    # REAL PNG codec behind the REAL-CODEC.md seam: deterministic 8x8
    # RGB fixtures (pixels closed-form in doc_id, DIFFERENT formula
    # family from the BMP fixtures) are encoded with the real png_encode
    # — per-row filter type (id+y)%5 cycles ALL FIVE PNG filters, IDAT
    # split in two on odd ids, ancillary tEXt on ids%3==0 — then decoded
    # by the real chunk-walking/CRC-checking/defiltering png_decode and
    # box-resized to 4x4 inside mapInPandas. The oracle recomputes the
    # position-weighted channel sums symbolically from doc_id and the
    # chunk count from the fixture's chunk-layout rule: a decoder that
    # botches any filter predictor, skips the CRC walk, or reads only the
    # first IDAT reconstructs different pixels (or dies) and mismatches.
    # Quarter-integer arithmetic, float64-exact on both engines.
    "png_decode_real": df_q(
        lambda spark, sf: multimodal.decode_resize_png(
            multimodal.synth_png_payload(
                load(spark, sf, "documents")
                .select("doc_id")
                .filter(F.col("doc_id") < 200),
                side=8,
            ),
            out_side=4,
        ),
        ("documents",),
        oracle="""
        WITH d AS (
          SELECT doc_id FROM documents WHERE doc_id < 200
        ), b AS (
          SELECT UNNEST(generate_series(0, 15)) AS blk
        ), c AS (
          SELECT UNNEST(generate_series(0, 3)) AS cell
        ), px AS (
          SELECT doc_id, blk,
                 ((blk // 4) * 2 + cell // 2) * 8
                   + ((blk % 4) * 2 + cell % 2) AS i
          FROM d, b, c
        ), m AS (
          SELECT doc_id, blk,
                 CAST(SUM((doc_id * 13 + 5 * i) % 256) AS DOUBLE) / 4 AS mr,
                 CAST(SUM((doc_id * 29 + 3 * i) % 254) AS DOUBLE) / 4 AS mg,
                 CAST(SUM((doc_id * 11 + 7 * i) % 249) AS DOUBLE) / 4 AS mb
          FROM px GROUP BY doc_id, blk
        )
        SELECT doc_id,
               CAST(8 AS BIGINT) AS width,
               CAST(8 AS BIGINT) AS height,
               CAST(3 + doc_id % 2
                    + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                    AS BIGINT) AS n_chunks,
               SUM(mr * (blk + 1)) AS wsum_r,
               SUM(mg * (blk + 1)) AS wsum_g,
               SUM(mb * (blk + 1)) AS wsum_b
        FROM m GROUP BY doc_id
        """,
    ),
    "jpeg_decode_real": df_q(
        lambda spark, sf: multimodal.decode_features_jpeg(
            multimodal.synth_jpeg_payload(
                load(spark, sf, "documents")
                .select("doc_id")
                .filter(F.col("doc_id") < 200),
                blocks=2,
            )
        ),
        ("documents",),
        oracle=_jpeg_gray_oracle(2, "CAST(4 AS BIGINT) AS n_blocks"),
    ),
    "gif_decode_real": df_q(
        _gif_decode_real, ("documents",), oracle=_GIF_ORACLE
    ),
    "jpeg_color_decode_real": df_q(
        lambda spark, sf: multimodal.decode_features_jpeg_color(
            multimodal.synth_jpeg_color_payload(
                load(spark, sf, "documents")
                .select("doc_id")
                .filter(F.col("doc_id") < 200),
                mcus=2,
            )
        ),
        ("documents",),
        oracle=_JPEG_COLOR_ORACLE,
    ),
    "jpeg_progressive_decode_real": df_q(
        lambda spark, sf: multimodal.decode_features_jpeg_progressive(
            multimodal.synth_jpeg_progressive_payload(
                load(spark, sf, "documents")
                .select("doc_id")
                .filter(F.col("doc_id") < 200),
                blocks=2,
            )
        ),
        ("documents",),
        oracle=_jpeg_gray_oracle(2, "CAST(6 AS BIGINT) AS n_scans"),
    ),
    "gif_animated_frame_sample": df_q(
        lambda spark, sf: multimodal.sample_frames_gif(
            multimodal.synth_gif_animated_payload(
                load(spark, sf, "documents")
                .select("doc_id")
                .filter(F.col("doc_id") < 200)
            ),
            stride=2,
        ),
        ("documents",),
        oracle=_GIF_ANIM_ORACLE,
    ),
    "jpeg_restart_interval_decode_real": df_q(
        lambda spark, sf: multimodal.decode_features_jpeg_restart(
            multimodal.synth_jpeg_restart_payload(
                load(spark, sf, "documents")
                .select("doc_id")
                .filter(F.col("doc_id") < 200),
                blocks=3,
            )
        ),
        ("documents",),
        oracle=_JPEG_RESTART_ORACLE,
    ),
}
