"""Mergeable sketches (``sketch_*``): count-min and Misra-Gries heavy
hitters, KMV distinct counts and intersections, quantile bounds,
Bloom-filter false-positive audits and shard merges.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline import sketches
from cassandra_sql_spark.queries.base import (
    PAGE_K_DUCK,
    PAGE_K_SPARK,
    Q,
    df_q,
    sql_q,
)


def _countmin_hh(ev):
    """Exact top-10 users probed against the shard-merged count-min grid;
    emits within_bound folding in the sketch guarantees (see the
    sketch_countmin_hh registry comment)."""
    exact = (
        ev.groupBy("user_id").count()
        .orderBy(F.desc("count"), "user_id").limit(10)
    )
    merged = sketches.countmin_merge(
        sketches.countmin_build(ev, "user_id", shard_col="event_type"),
        "event_type",
    )
    slack = ev.agg(
        F.ceil(F.lit(2.718281828459045) * F.count(F.lit(1)) / 1024)
        .alias("_slack")
    )
    return (
        sketches.countmin_estimate(merged, exact, "user_id")
        .crossJoin(slack)
        .select(
            "user_id",
            F.col("count").alias("n"),
            F.when(
                (F.col("est_count") >= F.col("count"))
                & (F.col("est_count") <= F.col("count") + F.col("_slack")),
                1,
            ).otherwise(0).alias("within_bound"),
        )
    )


# Approximate-quantile sketch with a hard rank-error bound check (the
# agg_approx_distinct_bound pattern): Spark's Greenwald-Khanna
# approx_percentile(accuracy=1000) must land within n/100 + 1/2 ranks
# of the true median (the half-rank slack is the discreteness floor —
# an ODD n makes |2*rank - n| >= 1 even for the perfect median) — the
# flag is computed from exact integer counts
# (50*|2*rank - n| <= n + 50), the oracle emits the literal 1 plus the same
# exact median. The exact median runs the cumulative window over the
# DISTINCT cent values (domain-bounded, never the row count).
_QUANTILE_BOUND_SPARK = """
WITH ap AS (
  SELECT approx_percentile(o_totalprice, 0.5, 1000) AS apx FROM orders
),
r AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o.o_totalprice <= ap.apx THEN 1 ELSE 0 END)
              AS BIGINT) AS rk
  FROM orders o CROSS JOIN ap
  WHERE o.o_totalprice IS NOT NULL
),
cents AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
),
dist AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM cents GROUP BY v),
w AS (
  SELECT v,
         SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cw,
         SUM(t) OVER () AS tw
  FROM dist
),
med AS (SELECT MIN(CASE WHEN 2 * cw >= tw THEN v END) AS med_c FROM w)
SELECT r.n, CAST(med.med_c AS DOUBLE) / 100 AS exact_median,
       CASE WHEN 50 * ABS(2 * r.rk - r.n) <= r.n + 50 THEN 1 ELSE 0 END
         AS within_bound
FROM r, med
"""

_QUANTILE_BOUND_ORACLE = """
WITH cents AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cents),
dist AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM cents GROUP BY v),
w AS (
  SELECT v,
         SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cw,
         SUM(t) OVER () AS tw
  FROM dist
),
med AS (SELECT MIN(CASE WHEN 2 * cw >= tw THEN v END) AS med_c FROM w)
SELECT n.n, CAST(med.med_c AS DOUBLE) / 100 AS exact_median,
       1 AS within_bound
FROM n, med
"""


def _mg_heavy_hitters(spark, sf, k: int = 128):
    from cassandra_sql_spark.pipeline import sketches

    pages = (
        load(spark, sf, "events")
        .selectExpr(f"{PAGE_K_SPARK} AS page")
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
  SELECT {PAGE_K_DUCK} AS page FROM events
),
p2 AS (SELECT page FROM pages WHERE page IS NOT NULL),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p2),
c AS (SELECT page, CAST(COUNT(*) AS BIGINT) AS cnt FROM p2 GROUP BY page)
SELECT c.page, c.cnt, tot.n AS n_total
FROM c, tot WHERE c.cnt * 128 > tot.n
ORDER BY c.page
"""


# -- Bloom-filter false-positive-rate audit ----------------------------------
# Measures the md5-family Bloom decontaminator (decontam_bloom) against
# exact raw-gram contamination in one confusion matrix: tp/fp/fn counts
# plus the realized FPR over clean docs. fn MUST be zero (Bloom filters
# have one-sided error) — the audit makes the filter's quality a
# hash-checked number instead of a test-only claim. The exact side
# joins train grams to the broadcast distinct eval-gram set on RAW
# strings (the same semantics the bloom bitmap approximates); both
# sides reduce to one row, so the extra cost over decontam_bloom is the
# one exact semi-join the production funnel runs on the flagged slice
# anyway.
def _bloom_fpr_audit(spark, sf):
    from cassandra_sql_spark.io import load
    from cassandra_sql_spark.pipeline import dedup

    d = load(spark, sf, "documents")
    pfx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    train = d.filter(pfx != "0")
    ev = d.filter(pfx == "0")
    flags = dedup.bloom_decontam(
        train, ev, "doc_id", "text", k=5, hash_family="md5"
    )
    w = dedup.tokens(F.col("text"))
    egrams = (
        ev.filter(F.size(w) >= 5)
        .select(F.explode(dedup.word_shingles("text", 5)).alias("g"))
        .distinct()
    )
    contam = (
        train.filter(F.size(w) >= 5)
        .select(
            "doc_id",
            F.explode(dedup.word_shingles("text", 5)).alias("g"),
        )
        .join(F.broadcast(egrams), "g")
        .select("doc_id")
        .distinct()
        .withColumn("contam", F.lit(True))
    )
    conf = flags.join(contam, "doc_id", "left").na.fill({"contam": False})
    return conf.agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        F.sum(F.col("contam").cast("long")).cast("long").alias(
            "n_contaminated"
        ),
        F.sum(F.col("flagged").cast("long")).cast("long").alias("n_flagged"),
        F.sum((F.col("flagged") & F.col("contam")).cast("long"))
        .cast("long")
        .alias("tp"),
        F.sum((F.col("flagged") & ~F.col("contam")).cast("long"))
        .cast("long")
        .alias("fp"),
        F.sum((~F.col("flagged") & F.col("contam")).cast("long"))
        .cast("long")
        .alias("fn"),
    ).withColumn(
        "fpr",
        F.col("fp").cast("double")
        / (F.col("n_train") - F.col("n_contaminated")).cast("double"),
    )


_BLOOM_FPR_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_eval
  FROM documents
), sh AS (
  SELECT doc_id, is_eval,
         list_distinct([array_to_string(w[i:i+4], ' ')
                        for i in range(1, len(w) - 3)]) AS s
  FROM toks
), ev AS (
  SELECT DISTINCT UNNEST(s) AS g FROM sh WHERE is_eval
), js AS (
  SELECT UNNEST(generate_series(0, 6)) AS j
), setpos AS (
  SELECT DISTINCT
         ('0x' || substring(md5(g || ':' || j), 1, 15))::BIGINT
           % 131072 AS p
  FROM ev, js
), tg AS (
  SELECT doc_id, UNNEST(s) AS g FROM sh WHERE NOT is_eval
), hit AS (
  SELECT tp.doc_id, tp.g
  FROM (SELECT doc_id, g,
               ('0x' || substring(md5(g || ':' || j), 1, 15))::BIGINT
                 % 131072 AS p
        FROM tg, js) tp
  LEFT JOIN setpos ON tp.p = setpos.p
  GROUP BY tp.doc_id, tp.g
  HAVING count(setpos.p) = 7
), cnt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM hit GROUP BY doc_id
), contam AS (
  SELECT DISTINCT tg.doc_id FROM tg JOIN ev USING (g)
), base AS (
  SELECT t.doc_id,
         COALESCE(cnt.n, 0) > 0 AS flagged,
         contam.doc_id IS NOT NULL AS contam
  FROM (SELECT doc_id FROM toks WHERE NOT is_eval) t
  LEFT JOIN cnt ON t.doc_id = cnt.doc_id
  LEFT JOIN contam ON t.doc_id = contam.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN contam THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(SUM(CASE WHEN flagged AND contam THEN 1 ELSE 0 END) AS BIGINT)
         AS tp,
       CAST(SUM(CASE WHEN flagged AND NOT contam THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN NOT flagged AND contam THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       CAST(SUM(CASE WHEN flagged AND NOT contam THEN 1 ELSE 0 END)
            AS DOUBLE)
         / (COUNT(*) - SUM(CASE WHEN contam THEN 1 ELSE 0 END)) AS fpr
FROM base
"""

# -- KMV set-intersection estimate --------------------------------------------
# Audience-overlap at sketch cost: bottom-32 md5 sketch of the click
# and purchase user sets, union-sketch Jaccard x KMV union cardinality
# = intersection estimate, graded NEXT TO the exact intersection (the
# sketch_kmv_distinct contract: the estimate IS the checked value, and
# its error is visible in the same row). HONESTLY mergeable now: the
# per-user flag table is built in ONE event-log pass and checkpointed,
# the exact counts are a plain partial+final aggregate over it, and the
# bottom-32 comes from a rank-FILTER subquery (rn <= 32 in a WHERE) so
# Spark's WindowGroupLimit plants a PARTIAL top-32 below the exchange —
# each input partition forwards at most 32 rows, the single-partition
# sort sees <= 32 x partitions rows, never the distinct-user set. (The
# earlier form ran ROW_NUMBER + COUNT(*) OVER () over ALL distinct
# users in one partition — the rank consumed inside an aggregate CASE
# defeats the pushdown. Plan-pinned.)
# Small-set branch falls back to exact on both engines identically.
_KMV_INTERSECT_TAIL = """
WITH counts AS (
  SELECT SUM(CASE WHEN ina THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN inb THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS n_ab,
         COUNT(*) AS n_union
  FROM {v}
), bot AS (
  SELECT hx, ina, inb FROM (
    SELECT hx, ina, inb,
           ROW_NUMBER() OVER (ORDER BY hx) AS rn
    FROM {v}
  ) t WHERE rn <= 32
), sk AS (
  SELECT SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS s_both,
         MAX(hx) AS h32
  FROM bot
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_ab AS BIGINT) AS exact_intersection,
       CAST(CAST(
         CASE WHEN n_union < 32 THEN CAST(n_ab AS DOUBLE)
              ELSE CAST(s_both AS DOUBLE) / 32
                   * (31.0 / ({h32int} / POWER(16.0, 12)))
         END AS DECIMAL(18,4)) AS DOUBLE) AS est_intersection
FROM counts CROSS JOIN sk
"""

_KMV_USERS = """
  SELECT user_id AS uid,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1
           AS ina,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
           AS inb,
         md5(CAST(user_id AS {str})) AS hx
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
  GROUP BY user_id
"""


def _kmv_intersection(spark, sf):
    """One fact scan: the per-user flag+hash table is checkpointed (the
    tail reads it twice — exact counts AND the bottom-32 sketch; CTE
    inlining would re-scan the event log per reference)."""
    users = spark.sql(_KMV_USERS.format(str="STRING")).localCheckpoint(
        eager=True
    )
    users.createOrReplaceTempView("kmv_users")
    return spark.sql(
        _KMV_INTERSECT_TAIL.format(
            v="kmv_users",
            h32int="CAST(conv(substring(h32, 1, 12), 16, 10) AS DOUBLE)",
        )
    )


_KMV_I_DUCK = (
    "WITH kmv_users AS ("
    + _KMV_USERS.format(str="VARCHAR")
    + "), "
    + _KMV_INTERSECT_TAIL.format(
        v="kmv_users",
        h32int="CAST(('0x' || substring(h32, 1, 12))::BIGINT AS DOUBLE)",
    ).replace("WITH ", "", 1)
)

QUERIES: dict[str, Q] = {
    # Mergeable HLL sketches (Apache DataSketches via Spark 4
    # hll_sketch_agg / hll_union_agg): per-shard sketches unioned into
    # the corpus-wide distinct count WITHOUT rescanning shards — the
    # operating mode for distinct statistics at 100 TB (each ingest
    # batch persists its sketch; corpus cardinality is a union over
    # sketch blobs, never a COUNT DISTINCT over 100 TB). The estimate is
    # engine-specific, so the graded claim is the cross-engine-checkable
    # BOUND (same pattern as agg_approx_distinct_bound);
    # tests/test_semantics.py pins that the union of per-source sketches
    # estimates IDENTICALLY to one global sketch (lossless merge).
    # NULLIF(text, '') on BOTH sides: DataSketches ignores empty-string
    # updates (a no-op per its update(String) contract) while
    # COUNT(DISTINCT) counts '' — found by the adversarial corpus suite;
    # excluding empties makes the estimate and the exact count range
    # over the same key set. The bound carries a +-1 absolute floor for
    # tiny corpora where the union estimator's last-ulp wobble exceeds
    # 5% of a single-digit count.
    "sketch_shard_merge": sql_q(
        """
        WITH shard AS (
          SELECT source, hll_sketch_agg(NULLIF(text, '')) AS s
          FROM documents GROUP BY source
        ),
        exact AS (SELECT COUNT(DISTINCT NULLIF(text, '')) AS exact_texts
                  FROM documents)
        SELECT exact.exact_texts,
               CAST(COUNT(*) AS BIGINT) AS n_shards,
               CASE WHEN
                 ABS(hll_sketch_estimate(hll_union_agg(s))
                     - exact.exact_texts)
                 <= GREATEST(0.05 * exact.exact_texts, 1.0)
               THEN 1 ELSE 0 END AS within_bound
        FROM shard CROSS JOIN exact
        GROUP BY exact.exact_texts
        """,
        ("documents",),
        oracle="""
        SELECT COUNT(DISTINCT NULLIF(text, '')) AS exact_texts,
               (SELECT CAST(COUNT(DISTINCT source) AS BIGINT)
                FROM documents) AS n_shards,
               1 AS within_bound
        FROM documents
        """,
    ),
    # Count-min sketch heavy-hitter screen (pipeline/sketches.py): the
    # frequency complement of the HLL cardinality sketch. Per-event-type
    # SHARD grids built map-side, merged by cell-wise SUM (pinned equal
    # to the global grid in tests/test_sketches.py), then the exact
    # top-10 users' counts are probed against the merged grid. The
    # graded claim folds in the sketch's guarantees: est >= exact always
    # (counters only over-count) and est <= exact + ceil(e*N/width)
    # (the standard eps*N bound; deterministic here — fixed hash seeds,
    # fixed fixture). Oracle = exact top-10 with within_bound = 1.
    "sketch_countmin_hh": df_q(
        lambda spark, sf: _countmin_hh(load(spark, sf, "events")),
        ("events",),
        oracle="""
        SELECT user_id, CAST(n AS BIGINT) AS n, 1 AS within_bound
        FROM (
          SELECT user_id, COUNT(*) AS n
          FROM events
          GROUP BY user_id
          ORDER BY n DESC, user_id
          LIMIT 10
        )
        """,
    ),
    # KMV (bottom-k minimum values) distinct-count sketch: keep the k
    # smallest md5 hashes per shard; estimate = (k-1)/frac(h_(k)).
    # Unlike the HLL entries (engine-specific estimators, graded as
    # bounds), KMV's arithmetic is pure hash math both engines reproduce
    # EXACTLY — the estimate itself is the graded value. Mergeable:
    # union of bottom-k sets -> bottom-k of the union, so per-shard
    # sketches fold into a corpus sketch without rescanning (same
    # operating mode as sketch_shard_merge). k=8 so the estimator branch
    # (not the exact-fallback) is exercised at the sf0.01 gate.
    "sketch_kmv_distinct": sql_q(
        """
        WITH d AS (SELECT DISTINCT source, text FROM documents),
        h AS (SELECT source, md5(text) AS hx FROM d),
        r AS (
          SELECT source, hx,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY hx) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS nd
          FROM h
        )
        SELECT source,
               CAST(MAX(nd) AS BIGINT) AS exact_distinct,
               CAST(CAST(CASE WHEN MAX(nd) < 8 THEN CAST(MAX(nd) AS DOUBLE)
                 ELSE 7.0 / (CAST(conv(substring(
                        MAX(CASE WHEN rn = 8 THEN hx END), 1, 12), 16, 10)
                      AS DOUBLE) / POWER(16.0, 12))
                 END AS DECIMAL(18,4)) AS DOUBLE) AS kmv_estimate
        FROM r WHERE rn <= 8
        GROUP BY source
        """,
        ("documents",),
        oracle="""
        WITH d AS (SELECT DISTINCT source, text FROM documents),
        h AS (SELECT source, md5(text) AS hx FROM d),
        r AS (
          SELECT source, hx,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY hx) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS nd
          FROM h
        )
        SELECT source,
               CAST(MAX(nd) AS BIGINT) AS exact_distinct,
               CAST(CAST(CASE WHEN MAX(nd) < 8 THEN CAST(MAX(nd) AS DOUBLE)
                 ELSE 7.0 / (CAST(CAST('0x' || substring(
                        MAX(CASE WHEN rn = 8 THEN hx END), 1, 12)
                      AS BIGINT) AS DOUBLE) / POWER(16.0, 12))
                 END AS DECIMAL(18,4)) AS DOUBLE) AS kmv_estimate
        FROM r WHERE rn <= 8
        GROUP BY source
        """,
    ),
    "sketch_approx_quantile_bound": sql_q(
        _QUANTILE_BOUND_SPARK,
        ("orders",),
        oracle=_QUANTILE_BOUND_ORACLE,
    ),
    "sketch_mg_heavy_hitters": df_q(
        _mg_heavy_hitters, ("events",), oracle=_HH_ORACLE
    ),
    "sketch_bloom_fpr_audit": df_q(
        _bloom_fpr_audit, ("documents",), oracle=_BLOOM_FPR_ORACLE
    ),
    "sketch_kmv_intersection": df_q(
        _kmv_intersection, ("events",), oracle=_KMV_I_DUCK
    ),
}
