"""Round-9 operator entries.

- png_decode_real: REAL codec #3 behind the REAL-CODEC.md seam — the
  BMP/WAV recipe's third modality (r8 verdict task #5), feasible without
  image libraries because stdlib zlib covers DEFLATE. The reference has
  no media handling (opaque BLOB storage, kv/TableMetadata.java); this
  is the north-star training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline import multimodal
from cassandra_sql_spark.queries.base import df_q, sql_q

QUERIES = {
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
}


# -- batch k-NN join ---------------------------------------------------------
# Top-k nearest corpus vectors for EVERY vector of a probe set in one
# pass — the embedding-pipeline workhorse (retrieval eval, hard-negative
# mining). Probe side (vec_id < 20) is model-sized and broadcast; the
# corpus is scanned ONCE map-only, then per-probe top-5 via a rank
# window on probe_id. Spark's WindowGroupLimit pushes the rank<=5 cut
# below the shuffle (per-partition partial top-k), so the exchange
# carries at most 5*partitions rows per probe, not the scored corpus —
# plan-pinned in tests/test_plans.py. Scores use the proven
# sequential-fold cosine + DECIMAL(18,6) quantization boundary.


def _knn_join(spark, sf):
    from pyspark.sql import Window

    from cassandra_sql_spark.pipeline import similarity

    emb = similarity.nonzero(load(spark, sf, "embeddings"))
    probes = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv")
    )
    corpus = emb.filter(F.col("vec_id") >= 20)
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "vec_id",
        similarity.cosine(F.col("embedding"), F.col("pv"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("score"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= 5)
        .select(
            "probe_id",
            "vec_id",
            F.col("knn_rank").cast("long").alias("knn_rank"),
            "score",
        )
        .orderBy("probe_id", "knn_rank")
    )


_KNN_JOIN_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 20),
c AS (SELECT vec_id, v FROM e WHERE vec_id >= 20),
s AS (
  SELECT p.probe_id, c.vec_id,
         CAST(CAST(list_dot_product(c.v, p.pv)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(p.pv, p.pv)))
                   AS DECIMAL(18,6)) AS DOUBLE) AS score
  FROM c, p
)
SELECT probe_id, vec_id, CAST(rk AS BIGINT) AS knn_rank, score
FROM (
  SELECT probe_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY probe_id
                            ORDER BY score DESC, vec_id) AS rk
  FROM s
) t
WHERE rk <= 5
ORDER BY probe_id, knn_rank
"""

# -- Wald-Wolfowitz runs test ------------------------------------------------
# Randomness test on the daily event-count series: runs of
# above/below-median days vs the expectation under exchangeability.
# The median comes from the distinct-value cumulative reduction with the
# repo's cross-multiplication idiom (2*cum >= tot — no percentile
# function, whose interpolation rules differ across engines);
# median-equal days are excluded (standard). n1/n2/runs are exact
# BIGINTs; expected/variance divide exact integer products once in the
# final SELECT (calendar-bounded: 2*n1*n2*(2*n1*n2-n1-n2) < 2^50 even
# at a 3,650-day horizon). The LAG window runs over the daily
# reduction, bounded by the calendar like series_autocorr.
_RUNS_TEST_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
),
v AS (SELECT n AS val, CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY n),
cum AS (
  SELECT val,
         SUM(c) OVER (ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cb,
         SUM(c) OVER () AS tot
  FROM v
),
med AS (SELECT MIN(val) AS m FROM cum WHERE 2 * cb >= tot),
signs AS (
  SELECT d, CASE WHEN n > med.m THEN 1 ELSE 0 END AS s
  FROM daily, med WHERE n <> med.m
),
brk AS (
  SELECT s, CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                   OR s <> LAG(s) OVER (ORDER BY d) THEN 1 ELSE 0 END AS b
  FROM signs
),
agg AS (
  SELECT CAST(SUM(s) AS BIGINT) AS n1,
         CAST(SUM(1 - s) AS BIGINT) AS n2,
         CAST(SUM(b) AS BIGINT) AS runs
  FROM brk
)
SELECT n1, n2, runs,
       CASE WHEN n1 > 0 AND n2 > 0 THEN
         1.0 + CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2)
       END AS expected_runs,
       CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                 AND 2 * n1 * n2 > n1 + n2 THEN
         (CAST(runs AS DOUBLE)
          - (1.0 + CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2)))
         / SQRT(CAST(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) AS DOUBLE)
                / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1)))
       END AS z
FROM agg
"""

# -- audience overlap between event types ------------------------------------
# Jaccard of user sets per event-type pair — the cross-feature audience
# audit. One DISTINCT (type, user) reduction, then a self-join on
# user_id whose fan-out per user is C(types-per-user, 2) <= C(5, 2) = 10
# (type-domain-bounded, the basket_pair_lift cost class). Pairs sharing
# zero users do not appear (inner join), documented.
_AUDIENCE_OVERLAP_SQL = """
WITH ut AS (
  SELECT DISTINCT event_type AS t, user_id AS u FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
),
deg AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS du FROM ut GROUP BY t),
inter AS (
  SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS c
  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
  GROUP BY a.t, b.t
)
SELECT i.ta AS type_a, i.tb AS type_b, i.c AS n_shared,
       da.du AS n_a, db.du AS n_b,
       CAST(i.c AS DOUBLE) / (da.du + db.du - i.c) AS jaccard
FROM inter i
JOIN deg da ON i.ta = da.t
JOIN deg db ON i.tb = db.t
ORDER BY type_a, type_b
"""

# -- peak concurrency over gap-sessionized intervals -------------------------
# Max simultaneously-open sessions (capacity planning): sessionize by
# the 30-minute gap rule (event_sessionize_batch's exact CTE), emit
# +1/-1 boundary deltas, and sweep HIERARCHICALLY — a per-day running
# sum plus a day-level prefix carry — so no window ever sees more than
# one day of boundaries in one partition (the flat global ORDER BY
# sweep would be a single-reducer sort over every session boundary at
# 100 TB; the day carry is calendar-bounded). Sessions touching at an
# exact timestamp count as concurrent (+1 sorts before -1 via d DESC).
# Output (the peak and the first timestamp achieving it) is invariant
# to intra-tie window order: within a (ts, d) tie group only the last
# +1 row attains the group's peak, and every other row is strictly
# below its group peak, so the achieving-ts set is well-defined.
_MAX_CONCURRENT_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL '30' MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
assigned AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
sess AS (
  SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en
  FROM assigned GROUP BY user_id, sid
),
delta AS (
  SELECT st AS ts, 1 AS d FROM sess
  UNION ALL
  SELECT en AS ts, -1 AS d FROM sess
),
cum AS (
  SELECT ts, CAST(ts AS DATE) AS day,
         SUM(d) OVER (PARTITION BY CAST(ts AS DATE)
                      ORDER BY ts, d DESC ROWS UNBOUNDED PRECEDING)
           AS cin
  FROM delta
),
daytot AS (
  SELECT CAST(ts AS DATE) AS day, CAST(SUM(d) AS BIGINT) AS dt
  FROM delta GROUP BY CAST(ts AS DATE)
),
carry AS (
  SELECT day,
         COALESCE(SUM(dt) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb
  FROM daytot
),
lvl AS (
  SELECT c.ts, k.cb + c.cin AS conc
  FROM cum c JOIN carry k ON c.day = k.day
),
mx AS (SELECT MAX(conc) AS m FROM lvl)
SELECT CAST(mx.m AS BIGINT) AS max_concurrent,
       MIN(l.ts) AS first_peak_ts
FROM lvl l, mx WHERE l.conc = mx.m
GROUP BY mx.m
"""


# -- n-gram language-ID confusion audit --------------------------------------
# Self-trained character-bigram language ID graded against the corpus's
# own lang labels: learn each language's top-12 alphabetic bigrams
# (counts over normalized text), classify every doc by top-set overlap,
# emit the confusion matrix. Everything is exact integer counts with
# total tie orders (count DESC, bigram; score DESC, lang). Text is
# normalized to [a-z ] FIRST (both engines replace one CHAR per
# non-[a-z] code point, so multibyte text cannot skew positions) and
# capped at 200 chars/doc — the per-doc position explode is bounded.
# The per-lang top-12 window runs over the (lang, bigram) reduction
# (<= |langs| * 676 rows); classification is a broadcast join against
# the <= |langs|*12-row model, then a per-doc rank window. At 100 TB:
# two corpus scans (train, classify), both map-only + one doc_id
# shuffle. The lang-domain grid join makes zero-match docs classify
# deterministically (alphabetically first language at score 0).
_LANGID_BODY = """
WITH norm AS (
  SELECT doc_id, lang,
         SUBSTRING(regexp_replace(lower(text), '[^a-z]', ' '), 1, 200) AS s
  FROM documents WHERE lang IS NOT NULL
),
eligible AS (SELECT doc_id, lang, s FROM norm WHERE length(s) >= 2),
bg AS (
  SELECT doc_id, lang, bigram FROM ({positions}) pos_src
  WHERE {is_alpha}
),
model AS (
  SELECT lang AS mlang, bigram, CAST(COUNT(*) AS BIGINT) AS c
  FROM bg GROUP BY lang, bigram
),
top AS (
  SELECT mlang, bigram FROM (
    SELECT mlang, bigram,
           ROW_NUMBER() OVER (PARTITION BY mlang
                              ORDER BY c DESC, bigram) AS rk
    FROM model
  ) ranked WHERE rk <= 12
),
langs AS (SELECT DISTINCT mlang FROM top),
docs AS (SELECT doc_id, lang FROM eligible),
hits AS (
  SELECT b.doc_id, t.mlang, CAST(COUNT(*) AS BIGINT) AS score
  FROM bg b JOIN top t ON b.bigram = t.bigram
  GROUP BY b.doc_id, t.mlang
),
scored AS (
  SELECT d.doc_id, d.lang, l.mlang,
         COALESCE(h.score, 0) AS score
  FROM docs d CROSS JOIN langs l
  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.mlang = l.mlang
),
pred AS (
  SELECT doc_id, lang, mlang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, mlang) AS rk
  FROM scored
)
SELECT lang, mlang AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rk = 1
GROUP BY lang, mlang
ORDER BY lang, pred_lang
"""

_LANGID_SPARK_POS = (
    "SELECT doc_id, lang, SUBSTRING(s, i, 2) AS bigram FROM eligible "
    "LATERAL VIEW explode(sequence(1, length(s) - 1)) _t AS i"
)
_LANGID_DUCK_POS = (
    "SELECT doc_id, lang, SUBSTRING(s, i, 2) AS bigram "
    "FROM eligible, UNNEST(range(1, length(s))) AS _t(i)"
)

# -- embedding centroid drift between halves ---------------------------------
# Per-label centroid distance between the even- and odd-id halves of
# the corpus — the split-half stability audit behind "did my embedding
# distribution drift?". Exact-integer ML discipline (determinism
# memory): coordinates quantize to round(x*1e6) int64; each half's
# centroid coordinate is the round-half-up rational mean
# FLOOR((2s+n)/(2n)) — 2s+n stays far under 2^53, so the one double
# division is identically rounded on both engines — and the reported
# drift is the exact BIGINT squared distance between quantized
# centroids. Plan: one scan, explode to (label, half, dim), a
# (label*2*64)-group aggregate, then model-sized joins.
_DRIFT_BODY = """
WITH q AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(vec_id % 2 AS INT) AS half, pos,
         CAST(FLOOR(CAST({x} AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qx
  FROM ({dims}) dim_src
),
g AS (
  SELECT label, half, pos, CAST(SUM(qx) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q GROUP BY label, half, pos
),
c AS (
  SELECT label, half, pos,
         CAST(FLOOR((2.0 * s + n) / (2.0 * n)) AS BIGINT) AS cq,
         n
  FROM g
),
d AS (
  SELECT a.label, a.pos, a.cq - b.cq AS diff, a.n AS n_even, b.n AS n_odd
  FROM c a JOIN c b
    ON a.label = b.label AND a.pos = b.pos
   AND a.half = 0 AND b.half = 1
)
SELECT label, MIN(n_even) AS n_even, MIN(n_odd) AS n_odd,
       CAST(SUM(diff * diff) AS BIGINT) AS drift_sq
FROM d GROUP BY label ORDER BY label
"""

_DRIFT_SPARK_DIMS = (
    "SELECT label, vec_id, pos, element_at(embedding, pos) AS x "
    "FROM embeddings "
    "LATERAL VIEW explode(sequence(1, size(embedding))) _t AS pos "
    "WHERE label IS NOT NULL AND size(embedding) >= 1"
)
_DRIFT_DUCK_DIMS = (
    "SELECT label, vec_id, pos, embedding[pos] AS x "
    "FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS _t(pos) "
    "WHERE label IS NOT NULL AND len(embedding) >= 1"
)

QUERIES.update(
    {
        "sim_knn_join": df_q(
            _knn_join, ("embeddings",), oracle=_KNN_JOIN_ORACLE
        ),
        "stat_runs_test": sql_q(_RUNS_TEST_SQL, ("events",)),
        "event_audience_overlap": sql_q(
            _AUDIENCE_OVERLAP_SQL, ("events",)
        ),
        "event_max_concurrent_sessions": sql_q(
            _MAX_CONCURRENT_SQL, ("events",)
        ),
        "text_langid_confusion": sql_q(
            _LANGID_BODY.format(
                positions=_LANGID_SPARK_POS,
                is_alpha="bigram RLIKE '^[a-z]{2}$'",
            ),
            ("documents",),
            oracle=_LANGID_BODY.format(
                positions=_LANGID_DUCK_POS,
                is_alpha="regexp_matches(bigram, '^[a-z]{2}$')",
            ),
        ),
        "emb_centroid_drift": sql_q(
            _DRIFT_BODY.format(x="x", dims=_DRIFT_SPARK_DIMS),
            ("embeddings",),
            oracle=_DRIFT_BODY.format(x="x", dims=_DRIFT_DUCK_DIMS),
        ),
    }
)


# -- MinHash estimate-vs-exact error audit -----------------------------------
# For every near-dup pair (exact word-trigram Jaccard >= 0.5, selected
# with the cross-multiplication 2c >= u so the threshold test is exact
# integers), compare the 32-component MinHash ESTIMATE (share of
# agreeing signature components) against the exact Jaccard — the sketch
# quality audit behind choosing signature width. The md5-prefix hash
# family is used because it exists verbatim in DuckDB (determinism
# memo), so the oracle re-derives every signature component itself;
# production keeps xxhash64 (same trade as decontam_bloom). Signature
# build = one exploded scan + (doc, seed) groupBy; the pair generator is
# the posting-list join (df-capped by the dedup cascade in production).
_MINHASH_ERR_BODY = """
WITH sh AS (
  {shingles}
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh
       GROUP BY doc_id),
sig AS (
  SELECT doc_id, seed, MIN({md5int}) AS h
  FROM ({seeded}) seeded_src
  GROUP BY doc_id, seed
),
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS c
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac AS (
  SELECT p.da, p.db,
         CAST(p.c AS DOUBLE) / (sa.n + sb.n - p.c) AS j_exact
  FROM pairs p
  JOIN sz sa ON p.da = sa.doc_id
  JOIN sz sb ON p.db = sb.doc_id
  WHERE 2 * p.c >= sa.n + sb.n - p.c
),
agree AS (
  SELECT j.da, j.db,
         CAST(SUM(CASE WHEN x.h = y.h THEN 1 ELSE 0 END) AS BIGINT)
           AS n_agree
  FROM jac j
  JOIN sig x ON x.doc_id = j.da
  JOIN sig y ON y.doc_id = j.db AND y.seed = x.seed
  GROUP BY j.da, j.db
)
SELECT j.da, j.db, j.j_exact, a.n_agree,
       CAST(a.n_agree AS DOUBLE) / 32 AS j_est,
       ABS(j.j_exact - CAST(a.n_agree AS DOUBLE) / 32) AS abs_err
FROM jac j JOIN agree a ON j.da = a.da AND j.db = a.db
ORDER BY j.da, j.db
"""

_MH_SPARK_SHINGLES = (
    "SELECT doc_id, gram FROM ("
    " SELECT doc_id, explode(CASE WHEN size(w) >= 3 THEN"
    " array_distinct(transform(sequence(1, size(w) - 2),"
    " i -> concat_ws(' ', w[i-1], w[i], w[i+1]))) ELSE array() END)"
    " AS gram FROM"
    " (SELECT doc_id, split(trim(text), '\\\\s+') AS w FROM documents) t"
    ") g"
)
_MH_DUCK_SHINGLES = (
    "SELECT doc_id, UNNEST(list_distinct("
    "[w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
    " for i in range(1, len(w) - 1)])) AS gram FROM"
    " (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w"
    " FROM documents) t"
)
_MH_SPARK_SEEDED = (
    "SELECT doc_id, gram, seed FROM sh"
    " LATERAL VIEW explode(sequence(0, 31)) _s AS seed"
)
_MH_DUCK_SEEDED = (
    "SELECT doc_id, gram, seed FROM sh,"
    " UNNEST(range(0, 32)) AS _s(seed)"
)
_MH_SPARK_MD5INT = (
    "CAST(CONV(SUBSTRING(MD5(concat(gram, ':', CAST(seed AS STRING))),"
    " 1, 15), 16, 10) AS BIGINT)"
)
_MH_DUCK_MD5INT = (
    "(('0x' || substring(md5(gram || ':' || CAST(seed AS VARCHAR)),"
    " 1, 15))::BIGINT)"
)

# -- k-NN label vote ----------------------------------------------------------
# Majority label among each probe's 5 nearest labeled corpus vectors vs
# the probe's own label — the classic embedding-quality / kNN-classifier
# eval. Same broadcast-probe + WindowGroupLimit plan as sim_knn_join
# (scores only ORDER, so the DECIMAL(18,6) quantization boundary
# suffices); the vote itself is exact integers with ties to the
# smallest label.


def _knn_label_vote(spark, sf):
    from pyspark.sql import Window

    from cassandra_sql_spark.pipeline import similarity

    emb = similarity.nonzero(load(spark, sf, "embeddings"))
    probes = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pv"),
        F.col("label").cast("long").alias("true_label"),
    )
    corpus = emb.filter(
        (F.col("vec_id") >= 20) & F.col("label").isNotNull()
    )
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "true_label",
        F.col("label").cast("long").alias("nn_label"),
        "vec_id",
        similarity.cosine(F.col("embedding"), F.col("pv"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("score"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    top = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 5
    )
    votes = top.groupBy("probe_id", "true_label", "nn_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    wv = Window.partitionBy("probe_id").orderBy(
        F.col("n_votes").desc(), F.col("nn_label")
    )
    return (
        votes.withColumn("vrk", F.row_number().over(wv))
        .filter(F.col("vrk") == 1)
        .select(
            "probe_id",
            "true_label",
            F.col("nn_label").alias("pred_label"),
            "n_votes",
        )
        .orderBy("probe_id")
    )


_KNN_VOTE_ORACLE = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
p AS (SELECT vec_id AS probe_id, CAST(label AS BIGINT) AS true_label,
             v AS pv
      FROM e WHERE vec_id < 20),
c AS (SELECT vec_id, CAST(label AS BIGINT) AS nn_label, v FROM e
      WHERE vec_id >= 20 AND label IS NOT NULL),
s AS (
  SELECT p.probe_id, p.true_label, c.nn_label, c.vec_id,
         CAST(CAST(list_dot_product(c.v, p.pv)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(p.pv, p.pv)))
                   AS DECIMAL(18,6)) AS DOUBLE) AS score
  FROM c, p
),
top AS (
  SELECT probe_id, true_label, nn_label FROM (
    SELECT probe_id, true_label, nn_label,
           ROW_NUMBER() OVER (PARTITION BY probe_id
                              ORDER BY score DESC, vec_id) AS rk
    FROM s
  ) t WHERE rk <= 5
),
votes AS (
  SELECT probe_id, true_label, nn_label,
         CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM top GROUP BY probe_id, true_label, nn_label
)
SELECT probe_id, true_label, nn_label AS pred_label, n_votes
FROM (
  SELECT probe_id, true_label, nn_label, n_votes,
         ROW_NUMBER() OVER (PARTITION BY probe_id
                            ORDER BY n_votes DESC, nn_label) AS vrk
  FROM votes
) v WHERE vrk = 1
ORDER BY probe_id
"""

QUERIES.update(
    {
        "dedup_minhash_estimate_error": sql_q(
            _MINHASH_ERR_BODY.format(
                shingles=_MH_SPARK_SHINGLES,
                seeded=_MH_SPARK_SEEDED,
                md5int=_MH_SPARK_MD5INT,
            ),
            ("documents",),
            oracle=_MINHASH_ERR_BODY.format(
                shingles=_MH_DUCK_SHINGLES,
                seeded=_MH_DUCK_SEEDED,
                md5int=_MH_DUCK_MD5INT,
            ),
        ),
        "emb_knn_label_vote": df_q(
            _knn_label_vote, ("embeddings",), oracle=_KNN_VOTE_ORACLE
        ),
    }
)


# -- Misra-Gries heavy hitters (candidate + exact verify) ---------------------
# Exact heavy hitters (count * k > N, k=128) over the page-id stream,
# found the scale-true way: per-partition Misra-Gries sketches (bounded
# k counters each, Arrow-batched) yield a candidate superset — the
# mergeable-summaries guarantee — and a second pass re-counts ONLY the
# candidates exactly. The output is therefore exact and deterministic
# (sketch internals are row-order-dependent; the candidate SET's
# superset property is not), and the oracle is the plain GROUP BY ...
# HAVING cnt*32 > N ground truth. At a billion-key domain the candidate
# filter is what makes the verify pass a broadcast-pruned scan instead
# of a full-key shuffle; on the 100-page fixture domain the sketch is
# exercised end-to-end (k=128 because the fixture pages are
# near-uniform over a 100-id domain: any k <= 100 yields zero true
# heavy hitters — a vacuous fixture; the EVICTION path, which uniform
# data never triggers with k > domain, is pinned in pytest on planted
# 30%-skew data with k=16).
_HH_SPARK_K = "TRY_CAST(get_json_object(props, '$.k') AS BIGINT)"
_HH_DUCK_K = (
    "TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)"
    " THEN JSON_EXTRACT_STRING(props, '$.k') END AS BIGINT)"
)


def _mg_heavy_hitters(spark, sf, k: int = 128):
    from cassandra_sql_spark.pipeline import sketches

    pages = (
        load(spark, sf, "events")
        .selectExpr(f"{_HH_SPARK_K} AS page")
        .filter(F.col("page").isNotNull())
    )
    cands = {
        r.candidate
        for r in sketches.misra_gries_candidates(pages, "page", k=k)
        .distinct()
        .collect()
    }
    n_total = pages.count()
    counted = (
        pages.filter(F.col("page").isin(list(cands)))
        .groupBy("page")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("n_total", F.lit(n_total).cast("long"))
        .filter(F.col("cnt") * k > F.col("n_total"))
        .orderBy("page")
    )
    return counted


_HH_ORACLE = f"""
WITH pages AS (
  SELECT {_HH_DUCK_K} AS page FROM events
),
p2 AS (SELECT page FROM pages WHERE page IS NOT NULL),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p2),
c AS (SELECT page, CAST(COUNT(*) AS BIGINT) AS cnt FROM p2 GROUP BY page)
SELECT c.page, c.cnt, tot.n AS n_total
FROM c, tot WHERE c.cnt * 128 > tot.n
ORDER BY c.page
"""

# -- 2D Pareto skyline --------------------------------------------------------
# The SKYLINE operator (Borzsony/Kossmann/Stocker, ICDE'01) Spark has no
# native form of: parts not dominated on (minimize p_retailprice,
# maximize p_size). Computed scale-safe through the DOMAIN-BOUNDED size
# reduction: per-size min price (one shuffle), a strict-suffix MIN
# window over the <= 50-row size domain, then a broadcast join back to
# the scan. A part survives iff it matches its size's min price AND no
# strictly-larger size offers a price <= its own. No global sort, no
# pairwise self-join (the naive skyline is O(n^2)).
_SKYLINE_SQL = """
WITH pm AS (
  SELECT p_size AS s, MIN(p_retailprice) AS m
  FROM part GROUP BY p_size
),
sfx AS (
  SELECT s, m,
         MIN(m) OVER (ORDER BY s DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS mstrict
  FROM pm
)
SELECT p.p_partkey, CAST(p.p_size AS BIGINT) AS p_size, p.p_retailprice
FROM part p JOIN sfx ON p.p_size = sfx.s
WHERE p.p_retailprice = sfx.m
  AND (sfx.mstrict IS NULL OR sfx.mstrict > p.p_retailprice)
ORDER BY p_size, p_partkey
"""

QUERIES.update(
    {
        "sketch_mg_heavy_hitters": df_q(
            _mg_heavy_hitters, ("events",), oracle=_HH_ORACLE
        ),
        "skyline_pareto_2d": sql_q(_SKYLINE_SQL, ("part",)),
    }
)


# -- Brown-Forsythe / Levene variance-equality test ---------------------------
# Are purchase values equally dispersed across weekdays? Brown-Forsythe
# = one-way ANOVA on |x - group median| — robust to non-normality
# (the median variant; Levene's original uses the mean). Group medians
# come from the distinct-CENTS cumulative reduction with the
# cross-multiplication rule (2*cum >= n), so the centering values are
# exact; the deviations are exact integer cents; and the F statistic's
# numerator/denominator aggregate exact integer sums in FIXED group
# order before the one double division (the stat_anova_weekday
# discipline — an unordered SUM over double terms drifts between
# engines). Weekday via epoch-day mod 7 against the Monday anchor.
def _levene_sql(dd: str) -> str:
    """Brown-Forsythe SQL with the stat_anova_weekday fixed-order
    discipline: per-weekday deviation power sums pivot into fixed
    columns, and every cross-group reduction is an explicit
    left-to-right + chain (an unordered SUM over double terms drifts
    between engines)."""
    wds = range(7)
    piv = ",\n         ".join(
        f"COALESCE(MAX(CASE WHEN wd = {w} THEN {c} END), 0) AS {c}{w}"
        for w in wds
        for c in ("n", "s", "q")
    )
    ssb_terms = " + ".join(
        f"(CASE WHEN n{w} > 0 THEN CAST(s{w} AS DOUBLE)"
        f" * CAST(s{w} AS DOUBLE) / CAST(n{w} AS DOUBLE)"
        f" ELSE 0.0 END)"
        for w in wds
    )
    k_eff = " + ".join(f"(CASE WHEN n{w} > 0 THEN 1 ELSE 0 END)"
                       for w in wds)
    n_tot = " + ".join(f"n{w}" for w in wds)
    s_tot = " + ".join(f"s{w}" for w in wds)
    q_tot = " + ".join(f"q{w}" for w in wds)
    return f"""
WITH x AS (
  SELECT CAST({dd} AS BIGINT) % 7 AS wd,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
    AND event_type = 'purchase'
),
vc AS (SELECT wd, c, CAST(COUNT(*) AS BIGINT) AS k FROM x GROUP BY wd, c),
cum AS (
  SELECT wd, c,
         SUM(k) OVER (PARTITION BY wd ORDER BY c
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cb,
         SUM(k) OVER (PARTITION BY wd) AS nn
  FROM vc
),
med AS (SELECT wd, MIN(c) AS m FROM cum WHERE 2 * cb >= nn GROUP BY wd),
dev AS (
  SELECT x.wd, ABS(x.c - med.m) AS z
  FROM x JOIN med ON x.wd = med.wd
),
g AS (
  SELECT wd, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(z) AS BIGINT) AS s,
         CAST(SUM(z * z) AS BIGINT) AS q
  FROM dev GROUP BY wd
),
p AS (
  SELECT {piv}
  FROM g
),
agg AS (
  SELECT CAST({n_tot} AS BIGINT) AS nt, CAST({s_tot} AS BIGINT) AS st,
         CAST({q_tot} AS BIGINT) AS qt, CAST({k_eff} AS BIGINT) AS kg,
         ({ssb_terms}) AS ssb_raw
  FROM p
)
SELECT kg AS n_groups, nt AS n_obs,
       -- exact integer deviation power sums (the ss_* doubles sit at
       -- ~3e9 where 1e-6 quantization is BELOW one ulp — boundary
       -- coin-flips; the exact sums verify the same information)
       st AS sum_absdev_cents, qt AS sumsq_absdev_cents,
       CASE WHEN kg > 1 AND nt > kg
                 AND CAST(qt AS DOUBLE) - ssb_raw > 0 THEN
         CAST(CAST(
           ((ssb_raw - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
               / CAST(nt AS DOUBLE)) / CAST(kg - 1 AS DOUBLE))
           / ((CAST(qt AS DOUBLE) - ssb_raw) / CAST(nt - kg AS DOUBLE))
           AS DECIMAL(18,6)) AS DOUBLE)
       END AS f_stat
FROM agg
"""


# -- daily bounce rate --------------------------------------------------------
# Share of single-event sessions per day (sessions dated by their
# start) — the classic engagement-quality metric, built on the exact
# event_sessionize_batch CTE. One user_id shuffle for sessionization,
# then a calendar-bounded rollup.
_BOUNCE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL '30' MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
assigned AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
sess AS (
  SELECT user_id, sid, MIN(ts) AS st,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM assigned GROUP BY user_id, sid
)
SELECT CAST(st AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS bounce_rate
FROM sess
GROUP BY CAST(st AS DATE)
ORDER BY day
"""

# -- telemetry debounce -------------------------------------------------------
# Drop events repeating the same (user, type) within 5 minutes of the
# previous KEPT event? No — the standard streaming-safe debounce keeps
# an event iff the PREVIOUS RAW event of its (user, type) is > 5 min
# older (LAG rule; idempotent under at-least-once delivery for pairs,
# and expressible as one in-partition window — the chained "previous
# kept" variant needs a sequential scan and is NOT distributable
# without sessionization). Output is the kept-count audit per type.
_DEBOUNCE_SQL = """
WITH lagged AS (
  SELECT event_type, user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events WHERE ts IS NOT NULL
),
marked AS (
  SELECT event_type,
         CASE WHEN prev_ts IS NULL
                OR ts - prev_ts > INTERVAL '5' MINUTE
              THEN 1 ELSE 0 END AS keep
  FROM lagged
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_debounced,
       CAST(SUM(keep) AS DOUBLE) / COUNT(*) AS keep_rate
FROM marked
GROUP BY event_type
ORDER BY event_type
"""

QUERIES.update(
    {
        "stat_levene_brown_forsythe": sql_q(
            _levene_sql("DATEDIFF(CAST(ts AS DATE), DATE'2024-01-01')"),
            ("events",),
            oracle=_levene_sql(
                "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))"
            ),
        ),
        "event_bounce_rate_daily": sql_q(_BOUNCE_SQL, ("events",)),
        "event_debounce_audit": sql_q(_DEBOUNCE_SQL, ("events",)),
    }
)


# -- LSH recall curve ---------------------------------------------------------
# Candidate recall@10 of the production sign-LSH as a FUNCTION of the
# multiprobe knob m (0..3): for each of the 20 probe vectors, how many
# exact top-10 neighbors land in the probed bucket set {qb} ∪
# {qb XOR 2^p : p < m}? This is the quality-vs-cost curve behind
# choosing m — each m step scans one more bucket (1/16 of the corpus)
# and the curve quantifies what it buys. The hyperplanes are md5
# driver-side constants, so the oracle embeds the identical weights
# and re-derives every bucket bit with the same left-to-right term
# chain (the _lsh_topk_oracle discipline); hits are exact integers.


def _lsh_recall_curve(spark, sf):
    from pyspark.sql import Window

    from cassandra_sql_spark.pipeline import similarity

    emb = similarity.nonzero(load(spark, sf, "embeddings"))
    b = emb.withColumn(
        "_bucket", similarity.lsh_bucket("embedding", 4)
    )
    probes = b.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pv"),
        F.col("_bucket").alias("qb"),
    )
    corpus = b.filter(F.col("vec_id") >= 20)
    scored = corpus.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "vec_id",
        "_bucket",
        "qb",
        similarity.cosine(F.col("embedding"), F.col("pv"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("score"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    top = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 10
    )
    ms = spark.range(4).select(F.col("id").cast("int").alias("m"))
    x = F.col("_bucket").bitwiseXOR(F.col("qb"))
    hit = (
        (x == 0)
        | ((F.col("m") >= 1) & (x == 1))
        | ((F.col("m") >= 2) & (x == 2))
        | ((F.col("m") >= 3) & (x == 4))
    )
    return (
        top.crossJoin(F.broadcast(ms))
        .withColumn("hit", hit.cast("int"))
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_top_pairs"),
            F.sum("hit").cast("long").alias("n_hits"),
            (F.sum("hit") / F.count(F.lit(1))).alias("recall"),
        )
        .select(
            F.col("m").cast("long").alias("m"),
            "n_top_pairs",
            "n_hits",
            "recall",
        )
        .orderBy("m")
    )


def _lsh_recall_curve_oracle(planes: int = 4) -> str:
    from cassandra_sql_spark.pipeline.similarity import DIM, _plane_weights

    parts = []
    for p in range(planes):
        wts = _plane_weights(p)
        terms = " + ".join(
            f"v[{i + 1}] * ({wts[i]!r})" for i in range(DIM)
        )
        parts.append(f"CASE WHEN ({terms}) > 0 THEN {2 ** p} ELSE 0 END")
    bucket = "\n         + ".join(parts)
    cos = (
        "list_dot_product(c.v, p.pv) / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(p.pv, p.pv)))"
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
p AS (SELECT vec_id AS probe_id, v AS pv, bucket AS qb FROM b
      WHERE vec_id < 20),
c AS (SELECT vec_id, v, bucket FROM b WHERE vec_id >= 20),
s AS (
  SELECT p.probe_id, c.vec_id, c.bucket, p.qb,
         CAST(CAST({cos} AS DECIMAL(18,6)) AS DOUBLE) AS score
  FROM c, p
),
top AS (
  SELECT probe_id, bucket, qb FROM (
    SELECT probe_id, bucket, qb,
           ROW_NUMBER() OVER (PARTITION BY probe_id
                              ORDER BY score DESC, vec_id) AS rk
    FROM s
  ) t WHERE rk <= 10
),
ms AS (SELECT UNNEST(range(0, 4)) AS m)
SELECT CAST(ms.m AS BIGINT) AS m,
       CAST(COUNT(*) AS BIGINT) AS n_top_pairs,
       CAST(SUM(CASE WHEN xor(bucket, qb) = 0
                      OR (ms.m >= 1 AND xor(bucket, qb) = 1)
                      OR (ms.m >= 2 AND xor(bucket, qb) = 2)
                      OR (ms.m >= 3 AND xor(bucket, qb) = 4)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN xor(bucket, qb) = 0
                      OR (ms.m >= 1 AND xor(bucket, qb) = 1)
                      OR (ms.m >= 2 AND xor(bucket, qb) = 2)
                      OR (ms.m >= 3 AND xor(bucket, qb) = 4)
                 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall
FROM top, ms GROUP BY ms.m ORDER BY m
"""


# -- stratified quota sample --------------------------------------------------
# Exactly 20 docs per language, picked by md5(doc_id) rank — the
# deterministic eval-set carve-out (proportional md5-threshold sampling
# is sample_stratified/sample_md5_split; quota-RANK sampling guarantees
# the per-stratum count regardless of stratum size). One shuffle on
# lang; the per-stratum window is quota-cut (WindowGroupLimit).
_QUOTA_SAMPLE_BODY = """
SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS {str})), doc_id)
           AS rk
  FROM documents WHERE lang IS NOT NULL
) t
WHERE rk <= 20 ORDER BY lang, rk
"""

# -- running inventory --------------------------------------------------------
# Per-part running net quantity over ship date (returns subtract), with
# the all-time peak and final net — the warehouse-balance shape: one
# shuffle on partkey, one in-partition running window over exact
# integer quantities, then a per-part aggregate. Quantities are
# integral doubles in the fixture; FLOOR(q + 0.5) keeps the cast
# engine-portable (Spark CAST truncates, DuckDB rounds).
_INVENTORY_SQL = """
WITH moves AS (
  SELECT l_partkey,
         CASE WHEN l_returnflag = 'R'
              THEN -CAST(FLOOR(l_quantity + 0.5) AS BIGINT)
              ELSE CAST(FLOOR(l_quantity + 0.5) AS BIGINT) END AS q,
         l_shipdate, l_orderkey, l_linenumber
  FROM lineitem
  -- unshipped moves have no position on the ship-date axis — and NULL
  -- dates ORDER first in Spark ASC but last in DuckDB (the event-
  -- sequence trap), so they are excluded, not ordered
  WHERE l_shipdate IS NOT NULL
),
run AS (
  SELECT l_partkey,
         SUM(q) OVER (PARTITION BY l_partkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS bal
  FROM moves
)
SELECT l_partkey AS partkey,
       CAST(COUNT(*) AS BIGINT) AS n_moves,
       CAST(MAX(bal) AS BIGINT) AS peak_net,
       CAST(MIN(bal) AS BIGINT) AS trough_net
FROM run GROUP BY l_partkey
ORDER BY partkey
LIMIT 500
"""

QUERIES.update(
    {
        "sim_lsh_recall_curve": df_q(
            _lsh_recall_curve,
            ("embeddings",),
            oracle=_lsh_recall_curve_oracle(),
        ),
        "sample_stratified_quota": sql_q(
            _QUOTA_SAMPLE_BODY.format(str="STRING"),
            ("documents",),
            oracle=_QUOTA_SAMPLE_BODY.format(str="VARCHAR"),
        ),
        "part_running_inventory": sql_q(_INVENTORY_SQL, ("lineitem",)),
    }
)


# REAL JPEG codec behind the seam (codec #4, the first LOSSY one): see
# pipeline/multimodal.py. Fixtures are flat EVEN 8x8 blocks, for which
# the Annex-K quantized DC is exactly (v-128)/2 — the full Huffman/
# DCT/dequant pipeline reproduces the source EXACTLY, so the oracle
# recomputes the decoded per-block weighted means closed-form from
# doc_id. COM segments on ids % 3 == 0 force a real marker walk; the
# DC difference chain makes block-order/predictor bugs corrupt the
# weighted sum. The lossy path (where reconstruction error is real) is
# pinned in pytest by round-trip error bounds.
QUERIES.update(
    {
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
            oracle="""
            WITH d AS (
              SELECT doc_id FROM documents WHERE doc_id < 200
            ), b AS (
              SELECT UNNEST(generate_series(0, 1)) AS by
            ), c AS (
              SELECT UNNEST(generate_series(0, 1)) AS bx
            ), blk AS (
              SELECT doc_id, by, bx,
                     2 * ((doc_id * 7 + by * 3 + bx * 5) % 100) + 40 AS v
              FROM d, b, c
            )
            SELECT doc_id,
                   CAST(16 AS BIGINT) AS width,
                   CAST(16 AS BIGINT) AS height,
                   CAST(4 AS BIGINT) AS n_blocks,
                   SUM(CAST(v AS DOUBLE) * (by * 2 + bx + 1)) AS wsum_gray
            FROM blk GROUP BY doc_id
            """,
        ),
    }
)
