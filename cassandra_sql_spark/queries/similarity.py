"""Vector similarity search (``sim_*``): brute-force top-k, LSH and
multiprobe, range search, IVF, PQ and IVF+PQ probes, k-NN join and
recall curves.

The oracles replay each index exactly: integer quantization, the
k-means trainer CTE chain (``base.kmeans_ctes``) and exact cosine
scoring with a DECIMAL(18,6) hop, ties broken by ``vec_id``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline import similarity
from cassandra_sql_spark.queries.base import (
    DUCK_COSINE,
    E_UNIT,
    Q,
    df_q,
    int_l2,
    kmeans_ctes,
    kmeans_iter,
    kmeans_seed_cte,
)


def _lsh_topk_oracle(
    planes: int = 4,
    k: int = 10,
    query_id: int = 0,
    multiprobe: int = 0,
    threshold: float | None = None,
) -> str:
    """Full DuckDB replica of the sign-LSH top-k — hash family included.

    The hyperplanes are md5-derived DRIVER-SIDE constants
    (similarity._plane_weights), so the oracle embeds the identical
    weights as literals and recomputes bucket membership itself: this
    checks the bucketing, the probe, and the scoring — not just the
    scores of a Spark-chosen candidate list. The sign-bit dot uses an
    explicit left-to-right term chain, matching Spark's sequential
    aggregate() fold bit-for-bit (IEEE addition is deterministic given
    order), so a projection landing near zero cannot flip a bucket bit
    on one engine only. Scores go through the usual DECIMAL(18,6) hop.
    """
    from cassandra_sql_spark.pipeline.similarity import DIM, _plane_weights

    parts = []
    for p in range(planes):
        w = _plane_weights(p)
        terms = " + ".join(f"v[{i + 1}] * ({w[i]!r})" for i in range(DIM))
        parts.append(f"CASE WHEN ({terms}) > 0 THEN {2 ** p} ELSE 0 END")
    bucket = "\n         + ".join(parts)
    # multiprobe m additionally probes the buckets at Hamming distance 1
    # on the first m sign bits (bucket XOR 2^p) — same knob as topk_lsh
    probe = "b.bucket = q.qb"
    if multiprobe:
        alts = ", ".join(
            f"xor(q.qb, {2 ** p})" for p in range(min(multiprobe, planes))
        )
        probe = f"b.bucket IN (q.qb, {alts})"
    # threshold mode (range search): no k cut — filter on the hopped
    # score instead, so the >= boundary is the engine-exact DECIMAL one
    tail = (
        f"LIMIT {k}" if threshold is None
        else ""
    )
    having = (
        "" if threshold is None
        else f"AND CAST(CAST({DUCK_COSINE.format(a='b.v', b='q.qv')} "
             f"AS DECIMAL(18,6)) AS DOUBLE) >= {threshold!r}"
    )
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ), b AS (
      SELECT vec_id, v, {bucket} AS bucket FROM e
    ), q AS (
      SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = {query_id}
    )
    SELECT b.vec_id,
           CAST(CAST({DUCK_COSINE.format(a='b.v', b='q.qv')}
                     AS DECIMAL(18,6)) AS DOUBLE) AS score
    FROM b, q
    WHERE {probe} AND b.vec_id != {query_id} {having}
    ORDER BY score DESC, b.vec_id
    {tail}
    """


def _kmeans_dist_c3() -> str:

    return int_l2("e.xq", "c3.c")


def _ivf_exact_oracle(
    k: int = 10, nprobe: int = 4, query_id: int = 0
) -> str:
    """DuckDB replica of topk_ivf_exact: the exact-integer k-means CTE
    chain (base.kmeans_ctes, UNIT quantization) extended with
    integer-L2 probe selection, integer-L2 list assignment, and exact
    cosine scoring of the probed lists (DECIMAL(18,6) hop, ties broken
    by vec_id)."""

    return f"""{kmeans_ctes(unit=True)},
    ev AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ), q AS (
      SELECT xq AS qxq FROM e WHERE vec_id = {query_id}
    ), qv AS (
      SELECT v AS qv FROM ev WHERE vec_id = {query_id}
    ), probe AS (
      SELECT cid FROM (
        SELECT c3.cid,
               ROW_NUMBER() OVER (
                   ORDER BY {int_l2('q.qxq', 'c3.c')}, c3.cid) AS rk
        FROM c3, q
      ) WHERE rk <= {nprobe}
    ), asn AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c3.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_kmeans_dist_c3()}, c3.cid) AS rk
        FROM e, c3
      ) WHERE rk = 1
    )
    SELECT ev.vec_id,
           CAST(CAST({DUCK_COSINE.format(a='ev.v', b='qv.qv')}
                     AS DECIMAL(18,6)) AS DOUBLE) AS score
    FROM ev
    JOIN asn ON ev.vec_id = asn.vec_id
    JOIN probe ON asn.cid = probe.cid
    CROSS JOIN qv
    WHERE ev.vec_id != {query_id}
    ORDER BY score DESC, ev.vec_id
    LIMIT {k}
    """


def _pq_exact_oracle(
    k: int = 10,
    shortlist: int = 100,
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    query_id: int = 0,
) -> str:
    """DuckDB replica of pq_topk_exact: per-subspace exact-integer
    Lloyd codebooks (prefixed CTE chains from base.kmeans_ctes), integer-L2
    code assignment, integer ADC shortlist (ties by vec_id), exact
    cosine re-rank with the DECIMAL(18,6) hop."""

    subdim = 64 // m
    parts = []
    for s in range(m):
        p, e = f"s{s}", f"s{s}e"
        lo, hi = s * subdim + 1, (s + 1) * subdim
        chain = "".join(
            "," + kmeans_iter(t, p=p, ename=e, dim=subdim)
            for t in range(iters)
        )
        parts.append(f"""
{e} AS (
  SELECT vec_id, xq[{lo}:{hi}] AS xq FROM e
), {kmeans_seed_cte(p=p, ename=e, k=k_codes)}{chain},
{p}q AS (
  SELECT xq[{lo}:{hi}] AS q FROM e WHERE vec_id = {query_id}
), {p}qd AS (
  SELECT {p}c{iters}.cid,
         {int_l2('q.q', f'{p}c{iters}.c', subdim)} AS d
  FROM {p}c{iters}, {p}q q
), {p}code AS (
  SELECT vec_id, cid FROM (
    SELECT {e}.vec_id, {p}c{iters}.cid,
           ROW_NUMBER() OVER (PARTITION BY {e}.vec_id
               ORDER BY {int_l2(f'{e}.xq', f'{p}c{iters}.c', subdim)},
                        {p}c{iters}.cid) AS rk
    FROM {e}, {p}c{iters}
  ) WHERE rk = 1
)""")
    sub_ctes = ",".join(parts)
    code_joins = " ".join(
        f"JOIN s{s}code USING (vec_id)" for s in range(1, m)
    )
    qd_joins = " ".join(
        f"JOIN s{s}qd q{s} ON s{s}code.cid = q{s}.cid" for s in range(m)
    )
    adc_sum = " + ".join(f"q{s}.d" for s in range(m))
    return f"""
    WITH {E_UNIT}, ev AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ), qv AS (
      SELECT v AS qv FROM ev WHERE vec_id = {query_id}
    ),{sub_ctes},
    adc AS (
      SELECT s0code.vec_id, ({adc_sum}) AS adc
      FROM s0code {code_joins} {qd_joins}
    ), short AS (
      SELECT vec_id FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc, vec_id) AS rk
        FROM adc WHERE vec_id != {query_id}
      ) WHERE rk <= {shortlist}
    )
    SELECT ev.vec_id,
           CAST(CAST({DUCK_COSINE.format(a='ev.v', b='qv.qv')}
                     AS DECIMAL(18,6)) AS DOUBLE) AS score
    FROM ev JOIN short ON ev.vec_id = short.vec_id CROSS JOIN qv
    ORDER BY score DESC, ev.vec_id
    LIMIT {k}
    """


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


# -- IVF+PQ composed top-k -----------------------------------------------------
# The two prunings production ANN multiplies at 100 TB: coarse lists
# cut the ROWS (nprobe/n_centroids), PQ codes cut the BYTES (m codes
# instead of the vector); only the shortlist reads full vectors. Every
# routing decision — both exact-integer Lloyd trainings, coarse
# assignment, probe pick, codes, ADC order — is int64 arithmetic on the
# unit-quantized grid, so DuckDB replays the ENTIRE pipeline (the
# oracle below composes the kmeans CTE chain with the per-subspace
# codebook chains and restricts ADC to the probed lists); the final
# cosine takes the DECIMAL(18,6) hop. Citing the r7 sim_ivf_topk /
# sim_pq_topk oracles this builder composes.


def _ivfpq_exact_oracle(
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
    m: int = 4,
    k_codes: int = 16,
    iters_pq: int = 2,
    query_id: int = 0,
) -> str:

    subdim = 64 // m
    parts = []
    for s in range(m):
        p, e = f"s{s}", f"s{s}e"
        lo, hi = s * subdim + 1, (s + 1) * subdim
        chain = "".join(
            "," + kmeans_iter(t, p=p, ename=e, dim=subdim)
            for t in range(iters_pq)
        )
        parts.append(f"""
{e} AS (
  SELECT vec_id, xq[{lo}:{hi}] AS xq FROM e
), {kmeans_seed_cte(p=p, ename=e, k=k_codes)}{chain},
{p}q AS (
  SELECT xq[{lo}:{hi}] AS q FROM e WHERE vec_id = {query_id}
), {p}qd AS (
  SELECT {p}c{iters_pq}.cid,
         {int_l2('q.q', f'{p}c{iters_pq}.c', subdim)} AS d
  FROM {p}c{iters_pq}, {p}q q
), {p}code AS (
  SELECT vec_id, cid FROM (
    SELECT {e}.vec_id, {p}c{iters_pq}.cid,
           ROW_NUMBER() OVER (PARTITION BY {e}.vec_id
               ORDER BY {int_l2(f'{e}.xq', f'{p}c{iters_pq}.c', subdim)},
                        {p}c{iters_pq}.cid) AS rk
    FROM {e}, {p}c{iters_pq}
  ) WHERE rk = 1
)""")
    sub_ctes = ",".join(parts)
    code_joins = " ".join(
        f"JOIN s{s}code USING (vec_id)" for s in range(1, m)
    )
    qd_joins = " ".join(
        f"JOIN s{s}qd q{s} ON s{s}code.cid = q{s}.cid" for s in range(m)
    )
    adc_sum = " + ".join(f"q{s}.d" for s in range(m))
    # kmeans_ctes(unit=True) provides e (unit grid) and c0..c3 (coarse)
    return f"""{kmeans_ctes(unit=True)},
    ev AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ), cq AS (
      SELECT xq AS qxq FROM e WHERE vec_id = {query_id}
    ), qv AS (
      SELECT v AS qv FROM ev WHERE vec_id = {query_id}
    ), probe AS (
      SELECT cid FROM (
        SELECT c3.cid,
               ROW_NUMBER() OVER (
                   ORDER BY {int_l2('cq.qxq', 'c3.c')}, c3.cid) AS rk
        FROM c3, cq
      ) WHERE rk <= {nprobe}
    ), asn AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c3.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {int_l2('e.xq', 'c3.c')}, c3.cid) AS rk
        FROM e, c3
      ) WHERE rk = 1
    ),{sub_ctes},
    adc AS (
      SELECT s0code.vec_id, ({adc_sum}) AS adc
      FROM s0code {code_joins} {qd_joins}
      JOIN asn ON asn.vec_id = s0code.vec_id
      JOIN probe ON asn.cid = probe.cid
    ), short AS (
      SELECT vec_id FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc, vec_id) AS rk
        FROM adc WHERE vec_id != {query_id}
      ) WHERE rk <= {shortlist}
    )
    SELECT ev.vec_id,
           CAST(CAST({DUCK_COSINE.format(a='ev.v', b='qv.qv')}
                     AS DECIMAL(18,6)) AS DOUBLE) AS score
    FROM ev JOIN short ON ev.vec_id = short.vec_id CROSS JOIN qv
    ORDER BY score DESC, ev.vec_id
    LIMIT {k}
    """


QUERIES: dict[str, Q] = {
    # Brute-force cosine top-k (exact ANN baseline; broadcast query side,
    # TakeOrderedAndProject top-k).
    "sim_topk_bruteforce": df_q(
        lambda spark, sf: similarity.topk_bruteforce(
            load(spark, sf, "embeddings"), query_id=0, k=10
        ),
        ("embeddings",),
        oracle=f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                   WHERE list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]) > 0),
             q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        SELECT e.vec_id,
               CAST(CAST({DUCK_COSINE.format(a='e.v', b='q.qv')}
                         AS DECIMAL(18,6)) AS DOUBLE)
                 AS score
        FROM e, q WHERE e.vec_id != 0
        ORDER BY score DESC, e.vec_id
        LIMIT 10
        """,
    ),
    # LSH-bucketed approximate top-k (the scale path). Oracle-checked
    # END TO END since round 7: the hyperplanes are driver-side md5
    # constants, so the DuckDB oracle embeds the same weights and
    # re-derives bucket membership + probe + scores itself (see
    # _lsh_topk_oracle). recall@k vs brute force stays pinned in tests.
    "sim_lsh_topk": df_q(
        lambda spark, sf: similarity.topk_lsh(
            load(spark, sf, "embeddings"), query_id=0, k=10, planes=4
        ),
        ("embeddings",),
        oracle=_lsh_topk_oracle(planes=4, k=10, query_id=0),
    ),
    # Multi-probe LSH: also scan the buckets one sign-flip away from the
    # query's — the standard recall/cost knob ((m+1)/2^planes of the data
    # instead of 1/2^planes, recovering neighbors that landed just across
    # one hyperplane). Oracle-checked the same way as sim_lsh_topk: the
    # probe set (qb, qb XOR 1, qb XOR 2) is re-derived inside DuckDB.
    "sim_lsh_multiprobe": df_q(
        lambda spark, sf: similarity.topk_lsh(
            load(spark, sf, "embeddings"),
            query_id=0, k=10, planes=4, multiprobe=2,
        ),
        ("embeddings",),
        oracle=_lsh_topk_oracle(planes=4, k=10, query_id=0, multiprobe=2),
    ),
    # IVF approximate top-k (the other scale path). Oracle-checked since
    # round 7: the entry runs the L2-IVF form (FAISS IndexIVFFlat shape)
    # on the exact-integer coarse quantizer, so training, list
    # assignment, and probe selection are all int64 arithmetic the
    # DuckDB oracle replays verbatim (it extends the k-means trainer CTE
    # chain with probe + exact cosine scoring). The on-disk index
    # (write_ivf_partitioned / topk_ivf_pruned) stores the same model and
    # returns the same rows; recall vs brute force stays pinned in tests.
    # Threshold (range) similarity search: everything with cosine >=
    # 0.12 against the query (the fixture embeddings are near-random,
    # so absolute cosines are small; the boundary sits mid-distribution) inside the LSH probe set — the radius-query
    # complement of the top-k entries, same bucketing/pruning, oracle
    # re-derives buckets + probes + the DECIMAL-hopped >= boundary.
    "sim_range_search": df_q(
        lambda spark, sf: similarity.range_search_lsh(
            load(spark, sf, "embeddings"),
            query_id=0, threshold=0.12, planes=4, multiprobe=2,
        ),
        ("embeddings",),
        oracle=_lsh_topk_oracle(
            planes=4, query_id=0, multiprobe=2, threshold=0.12
        ),
    ),
    "sim_ivf_topk": df_q(
        lambda spark, sf: similarity.topk_ivf_exact(
            load(spark, sf, "embeddings"),
            query_id=0, k=10, n_centroids=8, nprobe=4,
        ),
        ("embeddings",),
        oracle=_ivf_exact_oracle(k=10, nprobe=4, query_id=0),
    ),
    # Product-quantization ANN (Jegou et al. 2011): ADC shortlist over
    # the ~50x-compressed codes, exact re-rank of the shortlist only.
    # Oracle-checked since round 7: the entry runs pq_topk_exact — four
    # per-subspace exact-integer Lloyd codebooks, integer-L2 codes, and
    # an integer ADC table sum — so the DuckDB oracle replays codebooks,
    # codes, shortlist, and re-rank bit-for-bit. The on-disk codes table
    # (write_pq_index / pq_topk_pruned) stores the same integer codes;
    # determinism, code-roundtrip, and recall stay asserted in tests.
    "sim_pq_topk": df_q(
        lambda spark, sf: similarity.pq_topk_exact(
            load(spark, sf, "embeddings"),
            query_id=0, k=10, shortlist=100, m=4, k_codes=16,
        ),
        ("embeddings",),
        oracle=_pq_exact_oracle(
            k=10, shortlist=100, m=4, k_codes=16, iters=2, query_id=0
        ),
    ),
    "sim_knn_join": df_q(
        _knn_join, ("embeddings",), oracle=_KNN_JOIN_ORACLE
    ),
    "sim_lsh_recall_curve": df_q(
        _lsh_recall_curve,
        ("embeddings",),
        oracle=_lsh_recall_curve_oracle(),
    ),
    "sim_ivfpq_topk": df_q(
        lambda spark, sf: similarity.topk_ivfpq_exact(
            load(spark, sf, "embeddings"), query_id=0
        ),
        ("embeddings",),
        oracle=_ivfpq_exact_oracle(),
    ),
}
