"""Coverage batch 8 (round 6): training-data pipeline tail — TF-IDF
keyterm extraction, URL canonicalization dedup, time-series linear
interpolation, and standalone k-means document clustering.

TF-IDF and URL canonicalization are core corpus-curation primitives
(keyword features for quality classifiers; URL-level dedup is the FIRST
pass of every web-crawl pipeline — it removes the bulk of exact refetch
duplicates before any content hashing runs). Gap interpolation is the
standard "resample to a regular grid" step for metric/time-series
feature tables. All SQL-expressible on both engines.

Scale notes (100 TB):
- tfidf: tf and df are two aggregates over one exploded token stream
  (map-side combinable); the doc-count scalar broadcasts; top-3 per doc
  is a window with partial WindowGroupLimit below the exchange.
- url canonical: pure map-side expression chain (regexp_replace stays
  in whole-stage codegen) + one groupBy(canonical) — exactly one
  shuffle, same cost profile as dedup_exact.
- gap fill: the spine is a constant-size calendar (explode(sequence)),
  the join is broadcast (spine side is tiny), the fill is two window
  passes over |spine| rows.
- kmeans: the exact-integer Lloyd (similarity.lloyd_int, also the IVF
  coarse quantizer) — per-iteration shuffle is k*d rows (centroid, dim)
  regardless of corpus size; assignment is a map-side expression over
  plan-literal centroids.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline.similarity import kmeans_exact
from cassandra_sql_spark.queries.base import Q, df_q, sql_q

# TF-IDF: score = tf * ln(N/df), quantized to 9dp via the scaled-integer
# idiom so ranking and hashing agree across engines (same precedent as
# mix_source_kl's LN term sums). Ranking orders by the QUANTIZED score
# so a last-ulp LN difference cannot flip the top-3. df and N both
# derive from the (doc, tok, tf) table — one row per posting — so the
# token stream is aggregated exactly once.
_TFIDF_BODY = """
df AS (
  SELECT tok, COUNT(*) AS df FROM {tf} GROUP BY tok
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM {tf}),
scored AS (
  SELECT t.doc_id, t.tok,
         CAST(CAST(FLOOR(t.tf * LN(CAST(n.n AS DOUBLE) / df.df)
                         * 1000000000 + 0.5) AS BIGINT) AS DOUBLE)
           / 1000000000 AS tfidf
  FROM {tf} t JOIN df ON t.tok = df.tok CROSS JOIN n
)
SELECT doc_id, tok, tfidf, rk FROM (
  SELECT doc_id, tok, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, tok) AS rk
  FROM scored
) ranked
WHERE rk <= 3
ORDER BY doc_id, rk
"""


def _tfidf(spark, sf):
    """One corpus scan: explode -> (doc, tok, tf) aggregate, then
    localCheckpoint the posting table (vocab x docs rows, far smaller
    than the token stream) so the three downstream consumers (df, N,
    scoring join) read the materialized postings instead of Catalyst
    re-expanding the explode per CTE reference (3 corpus scans,
    measured — the 100 TB hazard)."""
    docs = load(spark, sf, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    tf.createOrReplaceTempView("tfidf_postings")
    return spark.sql("WITH " + _TFIDF_BODY.format(tf="tfidf_postings"))

# URL canonicalization: the synthetic raw URL exercises every rule —
# uppercase scheme/host, explicit default port, www. prefix, utm_*
# tracking params mixed with a real param, fragment, trailing
# slash-before-query. Rules: lowercase scheme+authority, drop :443,
# drop www., strip fragment, strip utm_* params (keep others), tidy
# separators. The regexes avoid backreferences (Spark $1 vs DuckDB \\1).
_URL_RAW_SPARK = (
    "CONCAT('HTTPS://WWW.', UPPER(source), '.Example.COM:443/p/', "
    "CAST(doc_id % 13 AS STRING), '/?utm_source=feed&ref=', source, "
    "'&utm_campaign=x#sec', CAST(doc_id % 7 AS STRING))"
)
_URL_RAW_DUCK = _URL_RAW_SPARK.replace("AS STRING", "AS VARCHAR")


def _url_sql(raw: str, flag: str) -> str:
    """flag: '' for Spark (regexp_replace is global by default),
    ", 'g'" for DuckDB (global needs the explicit flag)."""

    def rr(expr: str, pat: str, repl: str) -> str:
        return f"REGEXP_REPLACE({expr}, '{pat}', '{repl}'{flag})"

    # Patterns use [.] / [?] character classes instead of backslash
    # escapes: Spark SQL string literals unescape backslashes, DuckDB's
    # don't, so a shared pattern must avoid them entirely.
    auth = rr(rr("LOWER(auth)", ":443$", ""), "//www[.]", "//")
    rest = rr(
        rr(rr(rr("rest", "#.*$", ""), "utm_[^&#]*&?", ""), "[?&]+$", ""),
        "/[?]",
        "?",
    )
    # host: '^[^/]+//[^/]+' = scheme://authority; rest: everything after
    return f"""
WITH raw AS (
  SELECT doc_id, {raw} AS url FROM documents
),
split AS (
  SELECT doc_id, url,
         REGEXP_EXTRACT(url, '^[^/]+//[^/]+', 0) AS auth,
         SUBSTR(url, LENGTH(REGEXP_EXTRACT(url, '^[^/]+//[^/]+', 0)) + 1)
           AS rest
  FROM raw
),
canon AS (
  SELECT doc_id, CONCAT({auth}, {rest}) AS canonical_url
  FROM split
)
SELECT canonical_url,
       COUNT(*) AS dup_count,
       CAST(MIN(doc_id) AS BIGINT) AS survivor_doc
FROM canon
GROUP BY canonical_url
HAVING COUNT(*) >= 2
ORDER BY canonical_url
"""


def _url_sql_spark() -> str:
    return _url_sql(_URL_RAW_SPARK, "")


def _url_sql_duck() -> str:
    return _url_sql(_URL_RAW_DUCK, ", 'g'")


# Linear interpolation over a fixed daily spine (all SF fixtures share
# the 2024-01 window; k=7 purchases cover ~half the days at sf0.01 so
# both interior interpolation and edge carry are exercised).
def _interp_sql(tok_extract: str, days_frac: str, duck: bool) -> str:
    # IGNORE NULLS placement is the dialect split: Spark puts it after
    # the call (`LAST_VALUE(x) IGNORE NULLS OVER`), DuckDB inside the
    # parens (`LAST_VALUE(x IGNORE NULLS) OVER`).
    back = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    fwd = "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"

    def win(kind: str, expr: str, frame: str) -> str:
        if duck:
            return f"{kind}({expr} IGNORE NULLS) OVER (ORDER BY day {frame})"
        return f"{kind}({expr}) IGNORE NULLS OVER (ORDER BY day {frame})"

    day_if = "CASE WHEN total IS NOT NULL THEN day END"
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
           / 100 AS total
  FROM events
  WHERE event_type = 'purchase' AND {tok_extract} = '7'
  GROUP BY CAST(ts AS DATE)
),
spine AS ({{spine}}),
joined AS (
  SELECT s.day, d.total FROM spine s LEFT JOIN daily d ON s.day = d.day
),
bounds AS (
  SELECT day, total,
         {win("LAST_VALUE", "total", back)} AS prev_val,
         {win("LAST_VALUE", day_if, back)} AS prev_day,
         {win("FIRST_VALUE", "total", fwd)} AS next_val,
         {win("FIRST_VALUE", day_if, fwd)} AS next_day
  FROM joined
)
SELECT day,
       total IS NOT NULL AS observed,
       CAST(CAST(FLOOR(
         CASE WHEN total IS NOT NULL THEN total
              WHEN prev_val IS NULL THEN next_val
              WHEN next_val IS NULL THEN prev_val
              ELSE prev_val + (next_val - prev_val) * ({days_frac})
         END * 10000 + 0.5) AS BIGINT) AS DOUBLE) / 10000 AS filled
FROM bounds
ORDER BY day
"""


_INTERP_SPARK = _interp_sql(
    "GET_JSON_OBJECT(props, '$.k')",
    "CAST(DATEDIFF(day, prev_day) AS DOUBLE)"
    " / DATEDIFF(next_day, prev_day)",
    duck=False,
).format(
    spine="SELECT EXPLODE(SEQUENCE(DATE '2024-01-01', DATE '2024-01-30'))"
    " AS day"
)

_INTERP_DUCK = _interp_sql(
    "CASE WHEN props IS NOT NULL AND json_valid(props)"
    " THEN JSON_EXTRACT_STRING(props, '$.k') END",
    "CAST(DATEDIFF('day', prev_day, day) AS DOUBLE)"
    " / DATEDIFF('day', prev_day, next_day)",
    duck=True,
).format(
    spine="SELECT CAST(gs.day AS DATE) AS day FROM generate_series("
    "DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY) AS gs(day)"
)


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


def _int_l2(a: str, b: str, dim: int = 64) -> str:
    """Exact int64 squared L2 between two DuckDB integer lists."""
    return (
        f"list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i])"
        f" for i in range(1, {dim + 1})])"
    )


def _kmeans_dist(c: str) -> str:
    return _int_l2("e.xq", c)


def _kmeans_iter(
    t: int, p: str = "", ename: str = "e", dim: int = 64
) -> str:
    """One unrolled exact-integer Lloyd iteration as CTEs. ``p`` prefixes
    every CTE name so several trainers (e.g. PQ subspaces) can coexist
    in one WITH chain; ``ename``/``dim`` select the quantized frame."""
    prev, cur = f"{p}c{t}", f"{p}c{t + 1}"
    return f"""
{p}a{t} AS (
  SELECT vec_id, xq, cid FROM (
    SELECT {ename}.vec_id, {ename}.xq, {prev}.cid,
           ROW_NUMBER() OVER (PARTITION BY {ename}.vec_id
               ORDER BY {_int_l2(f'{ename}.xq', f'{prev}.c', dim)},
                        {prev}.cid) AS rk
    FROM {ename}, {prev}
  ) WHERE rk = 1
), {p}u{t} AS (
  SELECT cid, i, SUM(x) AS s, COUNT(*) AS n FROM (
    SELECT cid, UNNEST(xq) AS x, generate_subscripts(xq, 1) AS i
    FROM {p}a{t}
  ) GROUP BY cid, i
), {p}nc{t} AS (
  -- round-half-up of the exact rational mean via true floor division:
  -- floor((2s+n)/(2n)) spelled (a - pmod(a, b)) / b in integers
  SELECT cid, list(CAST((2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n)))
                        / (2*n) AS BIGINT) ORDER BY i) AS c
  FROM {p}u{t} GROUP BY cid
), {cur} AS (
  SELECT {prev}.cid, COALESCE({p}nc{t}.c, {prev}.c) AS c
  FROM {prev} LEFT JOIN {p}nc{t} ON {prev}.cid = {p}nc{t}.cid
)"""


def _kmeans_seed_cte(
    p: str = "", ename: str = "e", k: int = 8
) -> str:
    return f"""{p}c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cid, xq AS c
  FROM {ename} ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
)"""


# Shared trainer CTE chain: quantized vectors -> md5 seeds -> three
# unrolled exact-integer Lloyd iterations -> final centroids c3. Reused
# by the k-means entry below (raw quantization) and by sim_ivf_topk's
# oracle (queries/pipeline_queries.py; unit quantization — see
# similarity.quantized_vectors for why the unit projection is bit-exact),
# which extends it with probe + scoring.
_E_RAW = """e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
             x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
)"""

_E_UNIT = """e AS (
  SELECT vec_id,
         list_transform(xq0, a -> CAST(FLOOR(CAST(a AS DOUBLE) * 1000000
             / GREATEST(sqrt(CAST(list_sum(list_transform(xq0, t -> t * t))
                                  AS DOUBLE)), 1.0) + 0.5) AS BIGINT)) AS xq
  FROM (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
               x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS xq0
    FROM embeddings
    WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
  )
)"""


def kmeans_ctes(unit: bool = False) -> str:
    e = _E_UNIT if unit else _E_RAW
    return (
        f"\nWITH {e}, {_kmeans_seed_cte()},"
        f"{_kmeans_iter(0)},{_kmeans_iter(1)},{_kmeans_iter(2)}"
    )


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


QUERIES: dict[str, Q] = {
    # TF-IDF top-3 key terms per document (whitespace tokens, ln(N/df)).
    "text_tfidf_topterms": df_q(
        _tfidf,
        ("documents",),
        oracle="""
        WITH toks AS (
          SELECT doc_id, tok FROM (
            SELECT doc_id,
                   UNNEST(string_split_regex(TRIM(text), '\\s+')) AS tok
            FROM documents
          ) x WHERE tok <> ''
        ),
        tfx AS (
          SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
        ),
        """
        + _TFIDF_BODY.format(tf="tfx"),
    ),
    # URL canonicalization + dedup (first pass of web-crawl curation).
    "dedup_url_canonical": sql_q(
        _url_sql_spark(),
        ("documents",),
        oracle=_url_sql_duck(),
    ),
    # Regular-grid resample: daily purchase totals for one page, gaps
    # linearly interpolated between nearest observed neighbors, edges
    # carried from the nearest observation.
    "series_gap_fill_interp": sql_q(
        _INTERP_SPARK,
        ("events",),
        oracle=_INTERP_DUCK,
    ),
    # Standalone k-means clustering — oracle-checked since round 7 via
    # the exact-integer Lloyd (similarity.kmeans_exact): the DuckDB
    # oracle unrolls all three iterations and replays seeding,
    # assignment, and centroid updates bit-for-bit in int64.
    "emb_kmeans_clusters": df_q(_kmeans, ("embeddings",), _KMEANS_ORACLE),
    # Edit-distance fuzzy key consolidation (entity resolution on short
    # keys: product names, vendor strings, column headers). The scale
    # move is aggregate-FIRST: the corpus collapses to its distinct-key
    # table (one shuffle, same cost as dedup_exact), and the O(k^2)
    # levenshtein pass runs on the k distinct keys — independent of row
    # count. At 100 TB with a large key domain, add a blocking join
    # (first-token or length-band) before the pairwise pass; on the
    # fixture k=64 so the broadcast nested-loop pair join is the right
    # plan. Identical SQL on both engines (levenshtein is native JVM /
    # native C respectively — no UDF).
    "dedup_fuzzy_names": sql_q(
        """
        WITH names AS (
          SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM part GROUP BY p_name
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
               a.n_rows AS rows_a, b.n_rows AS rows_b
        FROM names a JOIN names b
          ON a.p_name < b.p_name
         AND levenshtein(a.p_name, b.p_name) <= 2
        """,
        ("part",),
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
    # Weighted sampling without replacement (Efraimidis-Spirakis): rank
    # by ln(u)/w where u is a uniform from the doc's md5 (deterministic,
    # partition-independent) and w = n_chars — longer docs proportionally
    # likelier, the standard size-weighted corpus subsample. Top-n is a
    # TakeOrderedAndProject (partial top-n per partition, no full sort).
    # The key is quantized at 9 decimals (the _s6 idiom) so the two
    # engines' ln() agree bit-for-bit after rounding; doc_id breaks ties.
    # Zero-weight (empty) docs are excluded: weight 0 means draw
    # probability 0, and ln(u)/0 would divide by zero under ANSI mode
    # (caught by the adversarial corpus net's n_chars=0 rows).
    "sample_weighted": sql_q(
        """
        SELECT doc_id, source, n_chars,
               CAST(CAST(
                 LN((CAST(conv(substring(
                       md5(CAST(doc_id AS STRING)), 1, 12), 16, 10)
                     AS DOUBLE) + 1.0) / (POWER(16.0, 12) + 1.0))
                 / CAST(n_chars AS DOUBLE)
               AS DECIMAL(18,9)) AS DOUBLE) AS skey
        FROM documents
        WHERE n_chars > 0
        ORDER BY skey DESC, doc_id
        LIMIT 50
        """,
        ("documents",),
        oracle="""
        SELECT doc_id, source, n_chars,
               CAST(CAST(
                 LN((CAST(CAST('0x' || substring(
                       md5(CAST(doc_id AS VARCHAR)), 1, 12)
                     AS BIGINT) AS DOUBLE) + 1.0) / (POWER(16.0, 12) + 1.0))
                 / CAST(n_chars AS DOUBLE)
               AS DECIMAL(18,9)) AS DOUBLE) AS skey
        FROM documents
        WHERE n_chars > 0
        ORDER BY skey DESC, doc_id
        LIMIT 50
        """,
    ),
    # Tokenizer vocabulary coverage: per-document out-of-vocabulary
    # rate against the corpus top-20 frequency vocab — the standard
    # "how much of this corpus does my tokenizer cover" audit. Two
    # corpus scans by design: the vocab-build pass aggregates to a
    # model-sized table (at 100 TB it is built once and persisted,
    # exactly like the unigram-LM and DSIR weight tables), and the
    # scoring pass broadcast-joins it — per-doc aggregation is
    # map-side-combinable, one shuffle on doc_id.
    "text_oov_rate": sql_q(
        """
        WITH toks AS (
          SELECT doc_id, tok
          FROM documents
          LATERAL VIEW explode(split(trim(text), '\\\\s+')) AS tok
          WHERE tok <> ''
        ),
        vocab AS (
          SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM toks
            GROUP BY tok ORDER BY c DESC, tok LIMIT 20
          )
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(CAST(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                         AS DOUBLE) / COUNT(*)
                    AS DECIMAL(18,6)) AS DOUBLE) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY t.doc_id
        """,
        ("documents",),
        oracle="""
        WITH toks AS (
          SELECT doc_id, tok FROM (
            SELECT doc_id,
                   UNNEST(string_split_regex(TRIM(text), '\\s+')) AS tok
            FROM documents
          ) x WHERE tok <> ''
        ),
        vocab AS (
          SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM toks
            GROUP BY tok ORDER BY c DESC, tok LIMIT 20
          )
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(CAST(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                         AS DOUBLE) / COUNT(*)
                    AS DECIMAL(18,6)) AS DOUBLE) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY t.doc_id
        """,
    ),
    # PMI collocation mining (top pointwise-mutual-information adjacent
    # bigrams — the classic multiword-expression detector for tokenizer
    # vocabulary design). All counts are exact integers; the single
    # LN of an integer-ratio product is quantized 6dp, and the rank
    # orders by the QUANTIZED value with a lexical tiebreak so the
    # top-20 cut is engine-exact. The bigram join is positional
    # (rn+1 = next token), shuffled on doc_id once; unigram/bigram
    # totals are 1-row broadcasts.
    "text_pmi_collocations": sql_q(
        """
        WITH toks AS (
          SELECT doc_id, tok, rn0 + 1 AS rn
          FROM documents
          LATERAL VIEW POSEXPLODE(SPLIT(TRIM(text), '\\\\s+')) t AS rn0, tok
          WHERE tok <> ''
        ),
        uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        nu AS (SELECT SUM(c) AS n FROM uni),
        big AS (
          SELECT a.tok AS ta, b.tok AS tb, COUNT(*) AS cab
          FROM toks a JOIN toks b
            ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
          GROUP BY a.tok, b.tok
        ),
        nb AS (SELECT SUM(cab) AS n FROM big)
        SELECT ta, tb, CAST(cab AS BIGINT) AS cab,
               CAST(CAST(LN((CAST(cab AS DOUBLE) / nb.n)
                    / ((CAST(ua.c AS DOUBLE) / nu.n)
                       * (CAST(ub.c AS DOUBLE) / nu.n)))
                 AS DECIMAL(18,6)) AS DOUBLE) AS pmi
        FROM big JOIN uni ua ON big.ta = ua.tok
                 JOIN uni ub ON big.tb = ub.tok
        CROSS JOIN nu CROSS JOIN nb
        WHERE cab >= 20
        ORDER BY pmi DESC, ta, tb LIMIT 20
        """,
        ("documents",),
        oracle="""
        WITH toks AS (
          SELECT doc_id, tok, rn FROM (
            SELECT doc_id,
                   UNNEST(string_split_regex(TRIM(text), '\\s+')) AS tok,
                   generate_subscripts(
                     string_split_regex(TRIM(text), '\\s+'), 1) AS rn
            FROM documents
          ) x WHERE tok <> ''
        ),
        uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        nu AS (SELECT SUM(c) AS n FROM uni),
        big AS (
          SELECT a.tok AS ta, b.tok AS tb, COUNT(*) AS cab
          FROM toks a JOIN toks b
            ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
          GROUP BY a.tok, b.tok
        ),
        nb AS (SELECT SUM(cab) AS n FROM big)
        SELECT ta, tb, CAST(cab AS BIGINT) AS cab,
               CAST(CAST(LN((CAST(cab AS DOUBLE) / nb.n)
                    / ((CAST(ua.c AS DOUBLE) / nu.n)
                       * (CAST(ub.c AS DOUBLE) / nu.n)))
                 AS DECIMAL(18,6)) AS DOUBLE) AS pmi
        FROM big JOIN uni ua ON big.ta = ua.tok
                 JOIN uni ub ON big.tb = ub.tok
        CROSS JOIN nu CROSS JOIN nb
        WHERE cab >= 20
        ORDER BY pmi DESC, ta, tb LIMIT 20
        """,
    ),
    # Zipf rank-frequency fit: regr_slope/r2 of ln(freq) on ln(rank)
    # over the corpus vocabulary — the one-number distributional health
    # check (natural corpora sit near slope -1; the synthetic fixture's
    # flat vocabulary fits poorly, which is itself the signal). The
    # vocabulary table is model-sized; the regression is a single
    # aggregate over it.
    "text_zipf_fit": sql_q(
        """
        WITH toks AS (
          SELECT tok FROM documents
          LATERAL VIEW EXPLODE(SPLIT(TRIM(text), '\\\\s+')) t AS tok
          WHERE tok <> ''
        ),
        f AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        r AS (
          SELECT tok, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk
          FROM f
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(CAST(regr_slope(LN(CAST(c AS DOUBLE)),
                                    LN(CAST(rk AS DOUBLE)))
                 AS DECIMAL(18,6)) AS DOUBLE) AS zipf_slope,
               CAST(CAST(regr_r2(LN(CAST(c AS DOUBLE)),
                                 LN(CAST(rk AS DOUBLE)))
                 AS DECIMAL(18,6)) AS DOUBLE) AS fit_r2
        FROM r
        """,
        ("documents",),
        oracle="""
        WITH toks AS (
          SELECT tok FROM (
            SELECT UNNEST(string_split_regex(TRIM(text), '\\s+')) AS tok
            FROM documents
          ) x WHERE tok <> ''
        ),
        f AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        r AS (
          SELECT tok, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk
          FROM f
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(CAST(regr_slope(LN(CAST(c AS DOUBLE)),
                                    LN(CAST(rk AS DOUBLE)))
                 AS DECIMAL(18,6)) AS DOUBLE) AS zipf_slope,
               CAST(CAST(regr_r2(LN(CAST(c AS DOUBLE)),
                                 LN(CAST(rk AS DOUBLE)))
                 AS DECIMAL(18,6)) AS DOUBLE) AS fit_r2
        FROM r
        """,
    ),
    # Per-document character-level Shannon entropy (nats) — the
    # compression-adjacent quality signal (low entropy = repetitive /
    # templated text; complements the Gopher repetition fractions).
    # One explode into (doc, char) counts, then sum of -(p ln p) per
    # doc — both aggregations map-side combinable, the shuffle carries
    # |docs x alphabet| rows. Quantized 6dp (the _s6 transcendental
    # idiom); empty docs have no characters and no entropy row on
    # either engine.
    "text_char_entropy": sql_q(
        """
        WITH chars AS (
          SELECT doc_id, c
          FROM documents
          LATERAL VIEW explode(split(text, '')) AS c
          WHERE c <> ''
        ),
        freq AS (
          SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY doc_id, c
        ),
        tot AS (
          SELECT doc_id, SUM(n) AS t FROM freq GROUP BY doc_id
        )
        SELECT f.doc_id,
               CAST(MAX(t.t) AS BIGINT) AS n_chars_counted,
               CAST(CAST(
                 -SUM((CAST(n AS DOUBLE) / t.t)
                      * LN(CAST(n AS DOUBLE) / t.t))
               AS DECIMAL(18,6)) AS DOUBLE) AS char_entropy
        FROM freq f JOIN tot t ON f.doc_id = t.doc_id
        GROUP BY f.doc_id
        """,
        ("documents",),
        oracle="""
        WITH chars AS (
          SELECT doc_id, c FROM (
            SELECT doc_id, UNNEST(string_split(text, '')) AS c
            FROM documents
          ) x WHERE c <> ''
        ),
        freq AS (
          SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY doc_id, c
        ),
        tot AS (
          SELECT doc_id, SUM(n) AS t FROM freq GROUP BY doc_id
        )
        SELECT f.doc_id,
               CAST(MAX(t.t) AS BIGINT) AS n_chars_counted,
               CAST(CAST(
                 -SUM((CAST(n AS DOUBLE) / t.t)
                      * LN(CAST(n AS DOUBLE) / t.t))
               AS DECIMAL(18,6)) AS DOUBLE) AS char_entropy
        FROM freq f JOIN tot t ON f.doc_id = t.doc_id
        GROUP BY f.doc_id
        """,
    ),
    # OHLC downsampling (candlestick resample): per day x event type,
    # open/close via min_by/max_by on the (unique) event timestamp,
    # low/high as plain MIN/MAX, volume as the exact scaled-integer sum.
    # One hash aggregate with map-side partials — min_by/max_by partials
    # carry a single (value, ts) pair per group per partition, so the
    # shuffle is |days x types| rows regardless of event count.
    "series_resample_ohlc": sql_q(
        """
        SELECT CAST(date_trunc('DAY', ts) AS DATE) AS day, event_type,
               min_by(value, ts) AS open,
               max_by(value, ts) AS close,
               MIN(value) AS low,
               MAX(value) AS high,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100 AS volume
        FROM events
        GROUP BY CAST(date_trunc('DAY', ts) AS DATE), event_type
        """,
        ("events",),
        oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               min_by(value, ts) AS open,
               max_by(value, ts) AS close,
               MIN(value) AS low,
               MAX(value) AS high,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100 AS volume
        FROM events
        GROUP BY CAST(date_trunc('day', ts) AS DATE), event_type
        """,
    ),
}
