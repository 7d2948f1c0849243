"""Embedding-vector operators (``emb_*``): projection, quantization,
PCA, centroids and dispersion, k-means, nearest-neighbor votes,
outliers and pairwise cosine statistics.

Coordinates go onto the exact 1e-6 integer grid before any aggregate,
so sums are order-independent on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline import selection, similarity
from cassandra_sql_spark.pipeline.similarity import kmeans_exact
from cassandra_sql_spark.queries.base import (
    Q,
    df_q,
    int_l2,
    kmeans_ctes,
    sql_q,
)


_DISPERSION_ORACLE = """
WITH e AS (
  SELECT label, embedding::DOUBLE[] AS v FROM embeddings
), per AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         SUM(CAST(FLOOR(list_dot_product(v, v) * 1000000 + 0.5)
                  AS BIGINT)) AS ssq6
  FROM e GROUP BY label
), comp AS (
  SELECT label, i,
         SUM(CAST(FLOOR(v[i] * 1000000 + 0.5) AS BIGINT)) AS cs6,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM e, UNNEST(generate_series(1, len(v))) AS t(i)
  GROUP BY label, i
), cent AS (
  SELECT label, i, CAST(cs6 AS DOUBLE) / 1000000 / cnt AS m FROM comp
), c2 AS (
  SELECT label,
         CAST(CAST(FLOOR(
           list_reduce(list_prepend(0.0, list(m * m ORDER BY i)),
                       (a, b) -> a + b) * 1000000 + 0.5) AS BIGINT)
           AS DOUBLE) / 1000000 AS centroid_sq_norm
  FROM cent GROUP BY label
)
SELECT per.label, per.n_vecs,
       CAST(ssq6 AS DOUBLE) / 1000000 / n_vecs AS mean_sq_norm,
       c2.centroid_sq_norm,
       CAST(ssq6 AS DOUBLE) / 1000000 / n_vecs - c2.centroid_sq_norm
         AS dispersion
FROM per JOIN c2 USING (label)
"""


def _kmeans(spark, sf):
    """Standalone k-means clustering over the embedding corpus.

    Round 7: the entry runs similarity.kmeans_exact — md5-seeded Lloyd
    in EXACT int64 arithmetic (quantized coordinates, integer squared
    distances, rational-rounded centroid updates) — so the iterative
    training IS SQL-expressible and the entry carries a full DuckDB
    value-hash oracle (unrolled 3-iteration CTE chain below). The same
    trainer (lloyd_int) is the IVF / IVF-PQ coarse quantizer; the entry
    is additionally pinned against a pure-Python fold replica in
    tests/test_pipeline.py::test_kmeans_entry_matches_python_fold_replica.
    """
    return kmeans_exact(
        load(spark, sf, "embeddings"), n_clusters=8, iters=3
    )


def _kmeans_dist(c: str) -> str:
    return int_l2("e.xq", c)


KMEANS_CTES = kmeans_ctes(unit=False)

_KMEANS_ORACLE = f"""{KMEANS_CTES},
fin AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c3.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_kmeans_dist('c3.c')}, c3.cid) AS rk
    FROM e, c3
  ) WHERE rk = 1
), lab AS (
  SELECT cid, MIN(vec_id) AS cluster_key FROM fin GROUP BY cid
)
SELECT fin.vec_id, CAST(lab.cluster_key AS BIGINT) AS cluster_key
FROM fin JOIN lab ON fin.cid = lab.cid
ORDER BY fin.vec_id
"""

# Embedding-norm decile audit (vector hygiene: truncated/denormal/
# blown-up rows show up as distribution tails before they poison
# training). Norms quantize to exact int64 (sum of squared 1e6-scaled
# coords); deciles via the integer-threshold rule over the DISTINCT
# norm values (domain-bounded window, never the row count).
_NORM_QUANTILES_BODY = """
WITH norms AS (
  SELECT {n2} AS n2 FROM embeddings
),
dist AS (SELECT n2, CAST(COUNT(*) AS BIGINT) AS t FROM norms GROUP BY n2),
w AS (
  SELECT n2,
         SUM(t) OVER (ORDER BY n2 ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cw,
         SUM(t) OVER () AS tw
  FROM dist
),
g AS (SELECT {grid} AS q)
SELECT CAST(g.q AS BIGINT) AS decile,
       CAST(MIN(CASE WHEN 10 * w.cw >= g.q * w.tw THEN w.n2 END)
            AS BIGINT) AS norm_sq
FROM g, w GROUP BY g.q ORDER BY decile
"""

_NORM_SPARK_N2 = (
    "aggregate(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
    " * 1000000 + 0.5) AS BIGINT)), CAST(0 AS BIGINT),"
    " (acc, y) -> acc + y * y)"
)

_NORM_DUCK_N2 = (
    "CAST(list_sum(list_transform(list_transform(embedding::DOUBLE[],"
    " x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)), y -> y * y))"
    " AS BIGINT)"
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

# -- Per-dimension embedding variance ----------------------------------------
# Which embedding dimensions carry signal? Per-dim variance over the
# corpus, top-10 — the feature-selection pass before PQ subspace
# splits. Elements quantize onto a 1e-5 grid (embeddings live in
# [-1, 1]; grid squares keep the per-dim sum of squares exact in int64
# past sf100 — a 1e-6 grid would overflow at sf100), then variance is
# two divisions of exact sums. Explode is map-side; the per-dim
# aggregate reduces to |dims| rows.
_DIMVAR_SPARK = """
WITH el AS (
  SELECT CAST(pos AS BIGINT) AS dim,
         CAST(FLOOR(CAST(e AS DOUBLE) * 1e5 + 0.5) AS BIGINT) AS q
  FROM embeddings
  LATERAL VIEW POSEXPLODE(embedding) t AS pos, e
), s AS (
  SELECT dim, COUNT(*) AS n, SUM(q) AS s1, SUM(q * q) AS s2
  FROM el GROUP BY dim
), v AS (
  SELECT dim, n,
         (CAST(s2 AS DOUBLE) / n
          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) / 1e10
           AS variance
  FROM s
)
SELECT dim, CAST(n AS BIGINT) AS n,
       CAST(CAST(variance AS DECIMAL(18,9)) AS DOUBLE) AS variance
FROM v ORDER BY variance DESC, dim LIMIT 10
"""

_DIMVAR_DUCK = """
WITH el AS (
  SELECT CAST(i - 1 AS BIGINT) AS dim,
         CAST(FLOOR(CAST(e AS DOUBLE) * 1e5 + 0.5) AS BIGINT) AS q
  FROM (
    SELECT UNNEST(embedding) AS e,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
  ) u
), s AS (
  SELECT dim, COUNT(*) AS n, SUM(q) AS s1, SUM(q * q) AS s2
  FROM el GROUP BY dim
), v AS (
  SELECT dim, n,
         (CAST(s2 AS DOUBLE) / n
          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) / 1e10
           AS variance
  FROM s
)
SELECT dim, CAST(n AS BIGINT) AS n,
       CAST(CAST(variance AS DECIMAL(18,9)) AS DOUBLE) AS variance
FROM v ORDER BY variance DESC, dim LIMIT 10
"""

# -- Participation ratio of the embedding space ---------------------------------
# Effective dimensionality: PR = (sum v_d)^2 / sum v_d^2 over per-dim
# variances — 64 means every dimension carries equal signal, ~1 means
# one dominates (the isotropy number a PQ subspace split reads). Same
# 1e-5 element grid as emb_dim_variance_topk; the 64 per-dim variances
# quantize onto a 1e-9 grid before the cross-dim sums, so the final
# ratio is a single correctly-rounded division.
_PR_BODY = """
, s AS (
  SELECT dim, COUNT(*) AS n, SUM(q) AS s1, SUM(q * q) AS s2
  FROM el GROUP BY dim
), v AS (
  SELECT CAST(FLOOR(
           (CAST(s2 AS DOUBLE) / n
            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             / 1e10 * 1e9 + 0.5) AS BIGINT) AS vq
  FROM s
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
       CAST(CAST(
         CAST(SUM(vq) AS DOUBLE) * CAST(SUM(vq) AS DOUBLE)
           / CAST(SUM(vq * vq) AS DOUBLE)
         AS DECIMAL(18,6)) AS DOUBLE) AS participation_ratio
FROM v
"""

_PR_SPARK = (
    """
WITH el AS (
  SELECT CAST(pos AS BIGINT) AS dim,
         CAST(FLOOR(CAST(e AS DOUBLE) * 1e5 + 0.5) AS BIGINT) AS q
  FROM embeddings
  LATERAL VIEW POSEXPLODE(embedding) t AS pos, e
)"""
    + _PR_BODY
)

_PR_DUCK = (
    """
WITH el AS (
  SELECT CAST(i - 1 AS BIGINT) AS dim,
         CAST(FLOOR(CAST(e AS DOUBLE) * 1e5 + 0.5) AS BIGINT) AS q
  FROM (
    SELECT UNNEST(embedding) AS e,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
  ) u
)"""
    + _PR_BODY
)

# -- Simplified silhouette score ----------------------------------------------
# Cluster quality of the embedding labels: per point, a = distance to
# own label centroid, b = nearest other centroid, s = (b-a)/max(a,b);
# reported as per-label means. Centroid coordinates are exact
# rationals on the 1e-6 coordinate grid (sum of grid ints / (1e6*n) —
# one correctly-rounded division), per-dim squared deviations quantize
# onto the 1e-12 grid (exact BIGINT sums, order-free), sqrt is
# IEEE-correct, per-point s snaps to 1e-9 before the mean. TWO
# embedding scans by design (centroid fit + scoring pass — the
# standard two-pass cluster-eval shape; a checkpoint of the n x d
# exploded table would cost more than the second columnar scan). The
# scoring join fans each point out to k centroids via broadcast
# (k*d rows), partial-aggregated before the one (vec, label) shuffle.
_SILHOUETTE_TAIL = """
cent AS (
  SELECT label AS clabel, pos, SUM(q) AS sq,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM expl GROUP BY label, pos
), dpairs AS (
  SELECT e.vec_id, e.label, c.clabel,
         CAST(FLOOR(
           ((CAST(e.q AS DOUBLE) * c.cnt - CAST(c.sq AS DOUBLE))
            / (1000000.0 * c.cnt))
           * ((CAST(e.q AS DOUBLE) * c.cnt - CAST(c.sq AS DOUBLE))
              / (1000000.0 * c.cnt)) * 1e12 + 0.5) AS BIGINT) AS qd
  FROM expl e JOIN cent c ON e.pos = c.pos
), d2 AS (
  SELECT vec_id, label, clabel, SUM(qd) AS dq
  FROM dpairs GROUP BY vec_id, label, clabel
), ab AS (
  SELECT vec_id, label,
         MIN(CASE WHEN clabel = label THEN dq END) AS own,
         MIN(CASE WHEN clabel <> label THEN dq END) AS other
  FROM d2 GROUP BY vec_id, label
), sil AS (
  SELECT vec_id, label,
         SQRT(CAST(own AS DOUBLE) / 1e12) AS a,
         SQRT(CAST(other AS DOUBLE) / 1e12) AS b
  FROM ab WHERE other IS NOT NULL
), sq2 AS (
  SELECT label,
         CASE WHEN GREATEST(a, b) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR((b - a) / GREATEST(a, b) * 1e9 + 0.5)
                   AS BIGINT) END AS qs
  FROM sil
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(CAST(CAST(SUM(qs) AS DOUBLE) / 1e9 / COUNT(*)
            AS DECIMAL(18,6)) AS DOUBLE) AS mean_silhouette
FROM sq2 GROUP BY label ORDER BY label
"""

_SIL_SPARK = (
    """
WITH expl AS (
  SELECT vec_id, label, pos,
         CAST(FLOOR(CAST(col AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
           AS q
  FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, col
  WHERE label IS NOT NULL
), """
    + _SILHOUETTE_TAIL
)

_SIL_DUCK = (
    """
WITH expl AS (
  SELECT vec_id, label, i - 1 AS pos,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
  WHERE label IS NOT NULL
), """
    + _SILHOUETTE_TAIL
)

# Every vector's coordinates on the 1e-6 integer grid, one row per
# (vec_id, pos): the first CTE of the Mahalanobis and pair-cosine
# entries, in each dialect's array-explode spelling.
_EXPL_SPARK = """
WITH expl AS (
  SELECT vec_id, pos,
         CAST(FLOOR(CAST(col AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
           AS q
  FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, col
), """

_EXPL_DUCK = """
WITH expl AS (
  SELECT vec_id, i - 1 AS pos,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
), """

# -- Diagonal-Mahalanobis embedding outliers ------------------------------------
# Vector-hygiene outlier ranking: per-dim mean and variance on the
# exact 1e-6 coordinate grid (the emb_label_centroids discipline),
# then each vector's diagonal Mahalanobis distance sum((x-mu)^2 /
# var), per-dim terms quantized onto the 1e-9 grid (exact BIGINT
# sums), top-15 by the INTEGER sum (grid-deterministic cut). Two
# embedding scans by design (moment fit + scoring — the silhouette
# note). Moment sums SUM(q*q) stay inside int64 through ~sf3000
# (coords are unit-scale, so q*q <= 3.4e11 per row); the
# zero-variance guard is MIN=MAX, never an n*s2 product. Zero-variance dims contribute 0 (a constant dim carries no
# outlier signal), mirroring the NULL-guard discipline.
_MAHALANOBIS_TAIL = """
mom AS (
  SELECT pos, CAST(COUNT(*) AS BIGINT) AS n, SUM(q) AS s1,
         SUM(q * q) AS s2, MIN(q) AS mn, MAX(q) AS mx
  FROM expl GROUP BY pos
), terms AS (
  SELECT e.vec_id,
         -- zero variance <=> all grid values equal: MIN = MAX is the
         -- exact test with NO big products (the n*s2 = s1*s1 spelling
         -- overflows int64 at sf10 row counts — caught by the sf10
         -- gate on the Spark side under ANSI mode)
         CASE WHEN m.mn = m.mx THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR(
                ((CAST(e.q AS DOUBLE) * m.n - CAST(m.s1 AS DOUBLE))
                 / m.n)
                * ((CAST(e.q AS DOUBLE) * m.n - CAST(m.s1 AS DOUBLE))
                   / m.n)
                / (CAST(m.s2 AS DOUBLE) / m.n
                   - (CAST(m.s1 AS DOUBLE) / m.n)
                     * (CAST(m.s1 AS DOUBLE) / m.n))
                * 1e9 + 0.5) AS BIGINT) END AS t
  FROM expl e JOIN mom m ON e.pos = m.pos
), sc AS (
  SELECT vec_id, SUM(t) AS s FROM terms GROUP BY vec_id
)
SELECT vec_id,
       CAST(CAST(CAST(s AS DOUBLE) / 1e9 AS DECIMAL(18,6)) AS DOUBLE)
         AS mahalanobis_sq
FROM sc ORDER BY s DESC, vec_id LIMIT 15
"""

_MAHA_SPARK = _EXPL_SPARK + _MAHALANOBIS_TAIL

_MAHA_DUCK = _EXPL_DUCK + _MAHALANOBIS_TAIL

# -- Exact-duplicate embedding vectors ------------------------------------------
# The vector tier of exact dedup: group by the md5 of the 1e-6-grid
# coordinate string (quantization makes float-noise twins collide;
# the grid is the same one every embedding entry quantizes on), report
# groups with 2+ members. One shuffle on the hash key — the
# dedup_exact shape lifted to vectors. The base corpus has no true
# duplicates (random vectors never collide), so the scan is UNIONed
# with a deterministic re-ingest overlay — every 37th vector appears
# again under an offset id, the double-delivery a resumed ingest job
# produces — and the operator's job is to find exactly those groups
# (a trivially-empty result would grade nothing).
_DUPVEC_BODY = """
WITH src AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000000000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 37 = 0
), keyed AS (
  SELECT vec_id, md5({key}) AS vkey
  FROM src
), grp AS (
  SELECT vkey, CAST(COUNT(*) AS BIGINT) AS n_copies,
         CAST(MIN(vec_id) AS BIGINT) AS canonical_id
  FROM keyed GROUP BY vkey
)
SELECT vkey AS vector_hash, n_copies, canonical_id
FROM grp WHERE n_copies >= 2
ORDER BY n_copies DESC, canonical_id
LIMIT 50
"""

_DUPVEC_SPARK = _DUPVEC_BODY.format(
    key="array_join(transform(embedding, x -> CAST(CAST(FLOOR("
        "CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS STRING)), ',')"
)

_DUPVEC_DUCK = _DUPVEC_BODY.format(
    key="array_to_string(list_transform(embedding, x -> CAST(CAST(FLOOR("
        "CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS VARCHAR)), ',')"
)

# -- Cosine-similarity histogram over adjacent pairs ------------------------------
# Embedding-health diagnostic: the distribution of pairwise cosines is
# the standard representation-collapse signal (healthy random-ish
# embeddings concentrate near 0; a collapsed encoder pushes mass toward
# 1). Pairing is deterministic (vec i with vec i+1 — id-adjacent, no
# sampling machinery) so the histogram is exact and oracle-replayable:
# coordinates quantize to the repo's 1e-6 grid, dot products and norms
# are exact BIGINT sums (|q|<=2^20ish, 64 dims — far inside int64), the
# cosine is the identical IEEE expression on both engines (two
# correctly-rounded sqrts — the audio-RMS discipline), and bins are
# 0.1-wide on [-1, 1] (bin edges are far from any accumulated-error
# scale). sqrt rounding can push |c| a few ulps past 1, so the bin is
# clamped on BOTH ends (GREATEST(LEAST(.,19),0)) to keep the output
# inside the documented [-1,1] bin domain (clamping the top end alone
# left bin=-1/bin_lo=-1.1 reachable). One explode + one pos-equijoin shuffle; output is a bounded
# <=20-row histogram. Zero-norm vectors carry no direction and are
# excluded by the NULL guard.
_COS_HIST_TAIL = """
pairs AS (
  SELECT a.vec_id AS ia,
         CAST(SUM(a.q * b.q) AS BIGINT) AS d,
         CAST(SUM(a.q * a.q) AS BIGINT) AS na,
         CAST(SUM(b.q * b.q) AS BIGINT) AS nb
  FROM expl a JOIN expl b
    ON b.vec_id = a.vec_id + 1 AND b.pos = a.pos
  GROUP BY a.vec_id
), cosv AS (
  SELECT CASE WHEN na = 0 OR nb = 0 THEN CAST(NULL AS DOUBLE)
              ELSE CAST(d AS DOUBLE)
                   / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))
         END AS c
  FROM pairs
), binned AS (
  SELECT GREATEST(LEAST(CAST(FLOOR((c + 1.0) * 10) AS BIGINT), 19), 0) AS bin
  FROM cosv WHERE c IS NOT NULL
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM binned
)
SELECT b.bin,
       CAST(-1.0 + b.bin * 0.1 AS DOUBLE) AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(
         CAST(COUNT(*) AS DOUBLE) / tot.n_pairs
         AS DECIMAL(18,9)) AS DOUBLE) AS share
FROM binned b CROSS JOIN tot
GROUP BY b.bin, tot.n_pairs
ORDER BY b.bin
"""

_COS_HIST_SPARK = _EXPL_SPARK + _COS_HIST_TAIL

_COS_HIST_DUCK = _EXPL_DUCK + _COS_HIST_TAIL

QUERIES: dict[str, Q] = {
    # Johnson-Lindenstrauss random projection 64 -> 16 dims; the ±1 sign
    # matrix is a deterministic md5-derived literal shared verbatim with
    # the oracle. Map-only at any scale.
    "emb_random_projection": df_q(
        lambda spark, sf: similarity.random_projection(
            load(spark, sf, "embeddings"), out_dim=16, in_dim=64
        ),
        ("embeddings",),
        oracle=(
            lambda R: "SELECT vec_id, "
            + ", ".join(
                f"round(list_dot_product(embedding::DOUBLE[], "
                f"[{', '.join(str(x) for x in R[j])}]) / sqrt(16), 6) "
                f"AS p{j:02d}"
                for j in range(16)
            )
            + " FROM embeddings"
        )(similarity.projection_signs(64, 16)),
    ),
    # Symmetric per-vector int8 quantization (scale = 127/max|x|). The
    # graded entry serializes the int8 vector to a scalar CSV — the
    # gate's hasher cannot hash ARRAY columns; the
    # array-returning library form stays exercised by the rows-only
    # entry below and the pytest suite.
    "emb_quantize_int8": df_q(
        lambda spark, sf: similarity.quantize_int8(
            load(spark, sf, "embeddings")
        ).select(
            "vec_id",
            "scale",
            F.array_join("q", ",").alias("q_csv"),
        ),
        ("embeddings",),
        oracle="""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 127.0 / greatest(
                   list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x))), 1e-30) AS s
          FROM embeddings
        )
        SELECT vec_id, round(s, 6) AS scale,
               array_to_string(
                 list_transform(v, x -> CAST(FLOOR(x * s + 0.5) AS INT)),
                 ',') AS q_csv
        FROM e
        """,
    ),
    # Top principal component via distributed power iteration
    # (rows-only: the exact fold-replica + eigenvector-quality checks
    # live in tests/test_r6b_ops.py).
    "emb_pca_top_component": df_q(
        lambda spark, sf: similarity.pca_top_component(
            load(spark, sf, "embeddings")
        ),
        ("embeddings",),
        oracle=None,
    ),
    # The ARRAY-returning library form, made hash-eligible (its
    # rows-only record came back as a TypeError — the hasher
    # cannot digest ARRAY columns) by posexploding the int8 vector to the
    # scalar (vec_id, pos, q) form. Same operator, same per-element
    # values: both engines compute FLOOR(x * (127/max|x|) + 0.5) on
    # identical IEEE doubles, the exactness emb_quantize_int8 already
    # rides. Map-only at any scale (explode fan-out is dim-bounded).
    "emb_quantize_int8_vec": df_q(
        lambda spark, sf: similarity.quantize_int8(
            load(spark, sf, "embeddings")
        ).select("vec_id", F.posexplode("q").alias("pos", "q")),
        ("embeddings",),
        oracle="""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 127.0 / greatest(
                   list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x))), 1e-30) AS s
          FROM embeddings
        )
        SELECT vec_id, i - 1 AS pos,
               CAST(FLOOR(v[i] * s + 0.5) AS INT) AS q
        FROM e, UNNEST(generate_series(1, len(v))) AS t(i)
        """,
    ),
    # Per-label embedding centroids: posexplode -> (label, dim) partial agg.
    # The shuffle carries labels x dims rows, independent of corpus size.
    "emb_label_centroids": df_q(
        lambda spark, sf: (
            load(spark, sf, "embeddings")
            .select("label", F.posexplode("embedding"))
            .groupBy("label", "pos")
            .agg(
                (
                    F.sum(
                        F.floor(F.col("col").cast("double") * 1000000 + 0.5)
                        .cast("bigint")
                    ).cast("double")
                    / 1000000
                    / F.count(F.lit(1))
                ).alias("centroid")
            )
        ),
        ("embeddings",),
        oracle="""
        SELECT label, i - 1 AS pos,
               CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000
                                   + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1000000 / COUNT(*) AS centroid
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
        GROUP BY label, i
        """,
    ),
    # Within-label embedding diversity: mean squared distance to the
    # label centroid via E||x-c||^2 = E||x||^2 - ||c||^2, exact
    # scaled-integer sums on both sides.
    "emb_label_dispersion": df_q(
        lambda spark, sf: selection.label_dispersion(
            load(spark, sf, "embeddings"), "label", "embedding"
        ),
        ("embeddings",),
        oracle=_DISPERSION_ORACLE,
    ),
    # Standalone k-means clustering — oracle-checked since round 7 via
    # the exact-integer Lloyd (similarity.kmeans_exact): the DuckDB
    # oracle unrolls all three iterations and replays seeding,
    # assignment, and centroid updates bit-for-bit in int64.
    "emb_kmeans_clusters": df_q(_kmeans, ("embeddings",), _KMEANS_ORACLE),
    "emb_norm_quantiles": sql_q(
        _NORM_QUANTILES_BODY.format(
            n2=_NORM_SPARK_N2, grid="explode(sequence(1, 9))"
        ),
        ("embeddings",),
        oracle=_NORM_QUANTILES_BODY.format(
            n2=_NORM_DUCK_N2, grid="UNNEST(generate_series(1, 9))"
        ),
    ),
    "emb_centroid_drift": sql_q(
        _DRIFT_BODY.format(x="x", dims=_DRIFT_SPARK_DIMS),
        ("embeddings",),
        oracle=_DRIFT_BODY.format(x="x", dims=_DRIFT_DUCK_DIMS),
    ),
    "emb_knn_label_vote": df_q(
        _knn_label_vote, ("embeddings",), oracle=_KNN_VOTE_ORACLE
    ),
    "emb_dim_variance_topk": sql_q(
        _DIMVAR_SPARK, ("embeddings",), oracle=_DIMVAR_DUCK
    ),
    "emb_participation_ratio": sql_q(
        _PR_SPARK, ("embeddings",), oracle=_PR_DUCK
    ),
    "emb_simplified_silhouette": sql_q(
        _SIL_SPARK, ("embeddings",), oracle=_SIL_DUCK
    ),
    "emb_mahalanobis_outliers": sql_q(
        _MAHA_SPARK, ("embeddings",), oracle=_MAHA_DUCK
    ),
    "emb_duplicate_vectors": sql_q(
        _DUPVEC_SPARK, ("embeddings",), oracle=_DUPVEC_DUCK
    ),
    "emb_cosine_pair_histogram": sql_q(
        _COS_HIST_SPARK, ("embeddings",), oracle=_COS_HIST_DUCK
    ),
}
