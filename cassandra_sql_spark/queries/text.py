"""Text-corpus operators over ``documents`` (``text_*``): tokenization,
statistics, quality filters and classifiers, language models,
diversity and readability, PII redaction, chunking.

Tokens come from ``pipeline.text``/``pipeline.dedup``; doubles cross the
engine boundary only as single divisions of exact integers or
scaled-integer-rounded transcendentals.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline import dedup, selection, text
from cassandra_sql_spark.queries.base import Q, df_q, sql_q


_TEXT_STATS_ORACLE = """
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w,
         substr(text, 1, 128) AS p
  FROM documents
), m AS (
  SELECT doc_id, text, w, p,
         len(w) AS n,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(w, x -> CAST(length(x) AS BIGINT))),
                     (a, b) -> a + b) AS total_len,
         len(list_filter(w, x -> x IN
             ('the','a','and','of','to','in','is','it'))) AS stop_hits,
         len(list_filter(w, x -> length(x) <= 2)) AS short_hits,
         len(list_filter(w, x -> x IN ('the','a','of','and'))) AS en_hits,
         len(list_filter(w, x -> x IN ('der','die','das','und'))) AS de_hits,
         len(list_filter(w, x -> x IN ('le','la','les','et'))) AS fr_hits
  FROM t
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       round(total_len::DOUBLE / n, 6) AS avg_tok_len,
       round(stop_hits::DOUBLE / n, 6) AS stop_ratio,
       round(
         least(n::DOUBLE / 50.0, 1.0) * 0.5
         + (CASE WHEN stop_hits::DOUBLE / n > 0.02
                 THEN 1.0 ELSE 0.5 END) * 0.3
         + (1.0 - short_hits::DOUBLE / n) * 0.2, 6) AS quality,
       CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0
              THEN 'en'
            WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
            WHEN fr_hits > 0 THEN 'fr'
            ELSE 'unk' END AS lang_pred,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      [CAST(ascii(p[i]) AS BIGINT)
                       for i in range(1, length(p) + 1)]),
         (h, c) -> (h * 131 + c) % 1000000007) AS fp
FROM m
"""


def _unigram_lm(spark, sf):
    docs = load(spark, sf, "documents")
    lm = selection.unigram_lm_table(docs, "text")
    scored = selection.unigram_nll(docs, "doc_id", "text", lm)
    return selection.perplexity_buckets(scored, "doc_id")


_UNIGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), cnt AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
  FROM cnt
), vocab AS (
  SELECT tok,
         CAST(FLOOR(ln((c::DOUBLE + 0.5) / (n::DOUBLE + 0.5 * v::DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS lp6
  FROM cnt, tot
), doc AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         SUM(v.lp6) AS s6
  FROM toks t JOIN vocab v USING (tok) GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
       -CAST(s6 AS DOUBLE) / 1000000 / CAST(n_tokens AS DOUBLE) AS nll,
       CASE NTILE(3) OVER (
              ORDER BY -CAST(s6 AS DOUBLE) / 1000000
                       / CAST(n_tokens AS DOUBLE), doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS bucket
FROM doc
"""

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


_FK_SELECT = """
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sents AS BIGINT) AS n_sents,
       CAST(n_syll AS BIGINT) AS n_syllables,
       CAST(39 * n_words * n_words + 1180 * n_syll * n_sents
            - 1559 * n_words * n_sents AS DOUBLE)
         / (100 * n_words * n_sents) AS fk_grade
FROM s ORDER BY doc_id LIMIT 300
"""

# Sentence-level duplication audit (the C4 / RefinedWeb line-dedup
# primitive): split docs to sentences, count each sentence corpus-wide
# via a WINDOW over the exploded sentences — ONE corpus scan, one
# shuffle on sentence, one on doc_id (the first draft joined the
# exploded frame against its own aggregate: Catalyst has no
# common-subplan reuse there, so it re-scanned + re-exploded the whole
# corpus — the pagerank/ngram-cascade lesson again). Spark splits on
# the regex-escaped dot; DuckDB on the literal dot (same result).
_SENT_DEDUP_BODY = """
WITH s AS (
  SELECT doc_id, trim(sv) AS sent FROM {src}
),
f AS (SELECT doc_id, sent FROM s WHERE sent <> ''),
c AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY sent) AS cnt FROM f
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_sents,
       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_sents,
       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_ratio
FROM c GROUP BY doc_id ORDER BY doc_id
"""

_SENT_SPARK_SRC = (
    "(SELECT doc_id, explode(split(text, '\\\\.')) AS sv FROM documents)"
)

_SENT_DUCK_SRC = (
    "(SELECT doc_id, UNNEST(string_split(text, '.')) AS sv"
    " FROM documents)"
)

# -- n-gram vocabulary coverage --------------------------------------------
# What fraction of all corpus trigram OCCURRENCES do the top-k distinct
# trigrams cover? The head-coverage curve point behind tokenizer and
# cache sizing. Exact integer cumulative counts; ties broken
# (count DESC, gram) for a total order. Only ranks <= max(k) are ever
# read, so the cumulative window runs over a pre-limited top-{head_k}
# head (Spark plans the ORDER BY+LIMIT as TakeOrderedAndProject —
# per-partition partial top-k, no global sort) and the corpus-wide
# total comes from a scalar aggregate. The former full-vocab
# unpartitioned window was a single-reducer sort over the entire
# distinct-trigram vocabulary — billions of rows at 100 TB; this head
# is <= 1000 rows at any scale.
_COVERAGE_BODY = """
WITH g AS (
  SELECT {gram} AS gram FROM {src}
),
c AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY gram),
t AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS tot,
         CAST(COUNT(*) AS BIGINT) AS n_grams
  FROM c
),
head AS (
  SELECT gram, cnt FROM c ORDER BY cnt DESC, gram LIMIT {head_k}
),
r AS (
  SELECT SUM(cnt) OVER (ORDER BY cnt DESC, gram
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, gram) AS rk
  FROM head
),
ks AS (SELECT {grid} AS k)
SELECT CAST(ks.k AS BIGINT) AS top_k,
       CAST(MAX(CASE WHEN rk = ks.k THEN cum END) AS BIGINT) AS covered,
       CAST(MAX(t.tot) AS BIGINT) AS total_occurrences,
       CAST(MAX(CASE WHEN rk = ks.k THEN cum END) AS DOUBLE)
         / MAX(t.tot) AS coverage
FROM r, ks, t
WHERE ks.k <= t.n_grams
GROUP BY ks.k ORDER BY top_k
"""

# CASE guard: Spark sequence(1, 0) DESCENDS to [1, 0] (the empty-media
# trap) and would index past short token arrays — docs under 3 tokens
# contribute no grams, matching DuckDB's empty range().
_COV_SPARK_SRC = (
    "(SELECT explode(CASE WHEN size(w) >= 3 THEN"
    " transform(sequence(1, size(w) - 2),"
    " i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"
    " ELSE array() END) AS gram FROM"
    " (SELECT split(trim(text), '\\\\s+') AS w FROM documents) t)"
)

_COV_DUCK_SRC = (
    "(SELECT UNNEST([w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
    " for i in range(1, len(w) - 1)]) AS gram FROM"
    " (SELECT string_split_regex(trim(text), '\\s+') AS w"
    " FROM documents) t)"
)

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

# -- Simpson diversity per document ------------------------------------------
# Simpson's lambda (repeat-draw collision probability) and the inverse
# Simpson "effective vocabulary size" — the concentration twin of the
# TTR/hapax lexical-diversity family. Everything is an exact integer
# ratio: sum f(f-1) / (n(n-1)) and n^2 / sum f^2 — no snap needed, the
# single division is correctly rounded on both engines. One token
# explode + two groupBys, all key-partitioned.
_SIMPSON_SPARK = """
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS f
  FROM (
    SELECT doc_id, explode(split(trim(text), '\\\\s+')) AS tok
    FROM documents
  ) x GROUP BY doc_id, tok
), s AS (
  SELECT doc_id, SUM(f) AS n, SUM(f * (f - 1)) AS coll, SUM(f * f) AS f2
  FROM tf GROUP BY doc_id
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(coll AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) AS simpson,
       CAST(n AS DOUBLE) * n / CAST(f2 AS DOUBLE) AS inv_simpson
FROM s WHERE n >= 2 ORDER BY doc_id
"""

_SIMPSON_DUCK = """
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS f
  FROM (
    SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents
  ) x GROUP BY doc_id, tok
), s AS (
  SELECT doc_id, SUM(f) AS n, SUM(f * (f - 1)) AS coll, SUM(f * f) AS f2
  FROM tf GROUP BY doc_id
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(coll AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) AS simpson,
       CAST(n AS DOUBLE) * n / CAST(f2 AS DOUBLE) AS inv_simpson
FROM s WHERE n >= 2 ORDER BY doc_id
"""

# -- Jensen-Shannon divergence per source --------------------------------------
# How far is each source's unigram distribution from the corpus mix? —
# the mixture-design distance a data-curation pass reads before
# weighting sources. JSD(P_s || Q) with the absent-token mass folded in
# CLOSED FORM: tokens the source never emits contribute exactly
# 0.5*q*ln(2) to KL(Q||M), so the sum runs only over (source, token)
# pairs that EXIST — no source x vocabulary cross join, scale-safe at
# any vocabulary size. Present-token terms quantize onto the 1e-9 grid.
_JSD_BODY = """
, stot AS (
  SELECT source, SUM(c) AS ts FROM cnt GROUP BY source
), ctot AS (
  SELECT tok, SUM(c) AS cc FROM cnt GROUP BY tok
), tot AS (
  SELECT SUM(c) AS t FROM cnt
), terms AS (
  SELECT cnt.source,
         CAST(FLOOR(0.5 * (
             CAST(cnt.c AS DOUBLE) / s.ts
               * LN((CAST(cnt.c AS DOUBLE) / s.ts)
                    / ((CAST(cnt.c AS DOUBLE) / s.ts
                        + CAST(v.cc AS DOUBLE) / tot.t) / 2))
           + CAST(v.cc AS DOUBLE) / tot.t
               * LN((CAST(v.cc AS DOUBLE) / tot.t)
                    / ((CAST(cnt.c AS DOUBLE) / s.ts
                        + CAST(v.cc AS DOUBLE) / tot.t) / 2))
         ) * 1e9 + 0.5) AS BIGINT) AS q9,
         v.cc
  FROM cnt
  JOIN stot s ON cnt.source = s.source
  JOIN ctot v ON cnt.tok = v.tok
  CROSS JOIN tot
)
SELECT t2.source, CAST(s.ts AS BIGINT) AS n_tokens,
       CAST(CAST(
         CAST(t2.qsum AS DOUBLE) / 1e9
           + 0.5 * LN(2.0) * (1 - CAST(t2.qcov AS DOUBLE) / tot.t)
         AS DECIMAL(18,6)) AS DOUBLE) AS jsd_nats
FROM (
  SELECT source, SUM(q9) AS qsum, SUM(cc) AS qcov
  FROM terms GROUP BY source
) t2
JOIN stot s ON t2.source = s.source
CROSS JOIN tot
ORDER BY t2.source
"""

_JSD_TAIL = "WITH cnt AS (SELECT * FROM jsd_cnt)" + _JSD_BODY


def _jsd_sources(spark, sf):
    """One corpus scan: the (source, token) count table is
    localCheckpointed (vocabulary-scale, far smaller than the corpus)
    and every downstream reduction reads the checkpoint — the pure-SQL
    CTE form re-tokenized the corpus once per reference under CTE
    inlining (6 parquet scans; the _canonical_edges trap). Plan-pinned
    to one parquet scan."""
    from cassandra_sql_spark.io import load

    d = load(spark, sf, "documents").filter(F.col("source").isNotNull())
    tok = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    cnt = (
        tok.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    cnt.createOrReplaceTempView("jsd_cnt")
    return spark.sql(_JSD_TAIL)


_JSD_DUCK = (
    """
WITH tok AS (
  SELECT source, UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents WHERE source IS NOT NULL
), cnt AS (
  SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok
)"""
    + _JSD_BODY
)

# -- Bigram-LM cross-entropy per document --------------------------------------
# The KenLM-style quality signal one tier above text_unigram_lm: a
# bigram model with add-1 smoothing is fit on the corpus and every
# document is scored by its per-bigram cross-entropy (gibberish and
# boilerplate both surface as outliers). The corpus bigram table is
# localCheckpointed (the tail references it twice — model counts AND
# the per-doc scoring join; CTE inlining would tokenize the corpus
# twice). Per-instance ln terms quantize onto the 1e-9 grid; the
# smoothing alphabet V is the distinct left-context count, documented
# as such. Perplexity = exp(H) is left to the caller: exp is not
# correctly rounded, H is.
_BIGRAM_XENT_TAIL = """
WITH bc AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM {v} GROUP BY w1, w2
), uc AS (
  SELECT w1, SUM(c2) AS c1 FROM bc GROUP BY w1
), vocab AS (
  SELECT COUNT(*) AS v FROM uc
), scored AS (
  SELECT b.doc_id,
         CAST(FLOOR(
           LN(CAST(u.c1 + vocab.v AS DOUBLE) / (m.c2 + 1)) * 1e9 + 0.5)
           AS BIGINT) AS q
  FROM {v} b
  JOIN bc m ON b.w1 = m.w1 AND b.w2 = m.w2
  JOIN uc u ON b.w1 = u.w1
  CROSS JOIN vocab
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(q) AS DOUBLE) / 1e9 / COUNT(*) AS cross_entropy_nats
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def _bigram_xent(spark, sf):
    from pyspark.sql import Window

    from cassandra_sql_spark.io import load

    d = load(spark, sf, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tok.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .localCheckpoint(eager=True)
    )
    big.createOrReplaceTempView("xent_bigrams")
    return spark.sql(_BIGRAM_XENT_TAIL.format(v="xent_bigrams"))


_BIGRAM_XENT_DUCK = (
    """
WITH tokl AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents
), big0 AS (
  SELECT doc_id, UNNEST(w[1:len(w) - 1]) AS w1, UNNEST(w[2:len(w)]) AS w2
  FROM tokl WHERE len(w) >= 2
),
"""
    + _BIGRAM_XENT_TAIL.format(v="big0").replace("WITH bc AS", "bc AS", 1)
)

QUERIES: dict[str, Q] = {
    # Text analysis battery: token counts, quality, language-ID heuristic,
    # rolling-hash fingerprint — all JVM lambdas, oracle replays the exact
    # integer/rational math.
    "text_stats": df_q(
        lambda spark, sf: text.text_stats(
            load(spark, sf, "documents"), "doc_id", "text"
        ),
        ("documents",),
        oracle=_TEXT_STATS_ORACLE,
    ),
    # BPE-ish pretokenizer count (LLM token budgeting; text.BPE_PRETOKEN_RE).
    "text_bpe_tokens": df_q(
        lambda spark, sf: load(spark, sf, "documents").select(
            "doc_id",
            text.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        ),
        ("documents",),
        oracle=(
            "SELECT doc_id, CAST(len(regexp_extract_all(text, '"
            + text.BPE_PRETOKEN_RE.replace("'", "''")
            + "')) AS BIGINT) AS n_bpe_tokens FROM documents"
        ),
    ),
    # Corpus vocabulary build: token -> (frequency, doc frequency), top-k.
    # The tokenizer-training precursor: explode + partial/final count,
    # TakeOrderedAndProject for the cut — shuffle volume is the distinct
    # vocab, not the corpus.
    # Document novelty: fraction of a doc's distinct 3-gram shingles that
    # occur NOWHERE else in the corpus — high novelty = unique content,
    # low = template/boilerplate-dominated. One gram-keyed shuffle for the
    # document-frequency table + one join back; same inverted-index size
    # class as the dedup paths (and the same df-skew note applies: a
    # boilerplate gram's df row is one aggregated value, never a fan-out).
    "text_novelty": df_q(
        lambda spark, sf: (
            lambda d, sh: (
                lambda per: d.select("doc_id")
                .join(per, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("n_grams", F.lit(0))
                    .cast("long")
                    .alias("n_grams"),
                    F.coalesce("n_unique", F.lit(0))
                    .cast("long")
                    .alias("n_unique"),
                    F.when(F.col("n_grams").isNull(), F.lit(0.0))
                    .otherwise(
                        F.col("n_unique").cast("double")
                        / F.col("n_grams").cast("double")
                    )
                    .alias("novelty"),
                )
            )(
                sh.join(
                    sh.groupBy("g").agg(F.count(F.lit(1)).alias("df")), "g"
                )
                .groupBy("doc_id")
                .agg(
                    F.count(F.lit(1)).alias("n_grams"),
                    F.sum(
                        F.when(F.col("df") == 1, 1).otherwise(0)
                    ).alias("n_unique"),
                )
            )
        )(
            load(spark, sf, "documents"),
            dedup.spread(load(spark, sf, "documents")).select(
                "doc_id",
                F.explode(dedup.word_shingles("text", 3)).alias("g"),
            ),
        ),
        ("documents",),
        oracle="""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                       for i in range(1, len(w)-1)])) AS g
          FROM toks
        ), dfreq AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY g
        ), per AS (
          SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                 CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique
          FROM sh JOIN dfreq USING (g) GROUP BY sh.doc_id
        )
        SELECT d.doc_id,
               COALESCE(per.n_grams, 0) AS n_grams,
               COALESCE(per.n_unique, 0) AS n_unique,
               CASE WHEN per.n_grams IS NULL THEN 0.0
                    ELSE per.n_unique::DOUBLE / per.n_grams::DOUBLE
               END AS novelty
        FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        """,
    ),
    "text_vocab_topk": df_q(
        lambda spark, sf: (
            load(spark, sf, "documents")
            .select(
                "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok")
            )
            .groupBy("tok")
            .agg(
                F.count(F.lit(1)).cast("long").alias("tf"),
                F.countDistinct("doc_id").cast("long").alias("df"),
            )
            .orderBy(F.desc("tf"), "tok")
            .limit(100)
        ),
        ("documents",),
        oracle="""
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM (
          SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents
        )
        GROUP BY tok
        ORDER BY tf DESC, tok
        LIMIT 100
        """,
    ),
    # BM25 keyword relevance: one corpus-stats aggregate broadcast back
    # over a map-side scored scan.
    "text_bm25": df_q(
        lambda spark, sf: text.bm25_scores(
            load(spark, sf, "documents"), "doc_id", "text",
            terms=("spark", "join", "vector"),
        ),
        ("documents",),
        oracle="""
        WITH d AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                   AS dl
          FROM documents
        ), s AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 SUM(dl) AS sumdl,
                 SUM(CASE WHEN list_contains(w, 'spark') THEN 1.0 ELSE 0.0
                     END) AS df0,
                 SUM(CASE WHEN list_contains(w, 'join') THEN 1.0 ELSE 0.0
                     END) AS df1,
                 SUM(CASE WHEN list_contains(w, 'vector') THEN 1.0 ELSE 0.0
                     END) AS df2
          FROM d
        )
        SELECT doc_id,
               round(
                 0.0
                 + ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
                   * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * 2.2)
                   / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
                      + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
                 + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
                   * (len(list_filter(w, x -> x = 'join'))::DOUBLE * 2.2)
                   / (len(list_filter(w, x -> x = 'join'))::DOUBLE
                      + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
                 + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
                   * (len(list_filter(w, x -> x = 'vector'))::DOUBLE * 2.2)
                   / (len(list_filter(w, x -> x = 'vector'))::DOUBLE
                      + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))),
                 6) AS bm25
        FROM d, s
        WHERE round(
                 0.0
                 + ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
                   * (len(list_filter(w, x -> x = 'spark'))::DOUBLE * 2.2)
                   / (len(list_filter(w, x -> x = 'spark'))::DOUBLE
                      + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
                 + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
                   * (len(list_filter(w, x -> x = 'join'))::DOUBLE * 2.2)
                   / (len(list_filter(w, x -> x = 'join'))::DOUBLE
                      + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n)))
                 + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
                   * (len(list_filter(w, x -> x = 'vector'))::DOUBLE * 2.2)
                   / (len(list_filter(w, x -> x = 'vector'))::DOUBLE
                      + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sumdl / n))),
                 6) > 0
        ORDER BY bm25 DESC, doc_id
        """,
    ),
    # Model-scoring slot: linear quality classifier (sigmoid over the
    # heuristic features, weights a driver-side constant — a trained
    # model's coefficients drop into the same literals). Map-only.
    "text_quality_classifier": df_q(
        lambda spark, sf: load(spark, sf, "documents")
        .select(
            "doc_id", text.quality_logistic(F.col("text")).alias("p_quality")
        )
        .select(
            "doc_id", "p_quality", (F.col("p_quality") >= 0.7).alias("keep")
        ),
        ("documents",),
        oracle="""
        WITH t AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
          FROM documents
        ), f AS (
          SELECT doc_id,
                 len(w)::DOUBLE AS n,
                 len(list_filter(w, x -> x IN
                     ('the','a','and','of','to','in','is','it')))::DOUBLE
                   AS stop_hits,
                 len(list_filter(w, x -> length(x) <= 2))::DOUBLE
                   AS short_hits
          FROM t
        ), p AS (
          SELECT doc_id,
                 CAST(CAST(
                   1.0 / (1.0 + exp(-(-1.0 + 2.0 * least(n / 50.0, 1.0)
                          + 3.0 * (stop_hits / n)
                          - 0.5 * (short_hits / n))))
                 AS DECIMAL(18,6)) AS DOUBLE) AS p_quality
          FROM f
        )
        SELECT doc_id, p_quality, p_quality >= 0.7 AS keep FROM p
        """,
    ),
    # Corpus length-distribution histogram: token counts bucketed (width
    # 50) with per-bucket doc count and mean char length — the first
    # chart every corpus audit draws; one map-side bucket expression +
    # one partial/final agg.
    "text_length_histogram": df_q(
        lambda spark, sf: (
            load(spark, sf, "documents")
            .select(
                (
                    F.floor(
                        F.size(F.split(F.trim("text"), r"\s+")) / 50
                    ).cast("bigint")
                    * 50
                ).alias("tok_bucket"),
                F.length("text").alias("_chars"),
            )
            .groupBy("tok_bucket")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.round(F.avg(F.col("_chars").cast("double")), 4).alias(
                    "avg_chars"
                ),
            )
        ),
        ("documents",),
        oracle="""
        SELECT (len(string_split_regex(trim(text), '\\s+')) // 50) * 50
                 AS tok_bucket,
               COUNT(*) AS n_docs,
               ROUND(AVG(CAST(length(text) AS DOUBLE)), 4) AS avg_chars
        FROM documents GROUP BY 1
        """,
    ),
    # Gopher-style repetition metrics (duplicate / top 2-gram fractions).
    "text_repetition_filter": df_q(
        lambda spark, sf: text.repetition_stats(
            load(spark, sf, "documents"), "doc_id", "text"
        ),
        ("documents",),
        oracle="""
        WITH g AS (
          SELECT doc_id,
                 [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS grams
          FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents)
          WHERE len(w) >= 2
        )
        SELECT doc_id,
               CAST(len(grams) AS BIGINT) AS n_2grams,
               round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 6)
                 AS dup_2gram_frac,
               round(list_max(list_transform(list_distinct(grams),
                     y -> len(list_filter(grams, x -> x = y))))::DOUBLE
                     / len(grams), 6) AS top_2gram_frac,
               (1.0 - len(list_distinct(grams))::DOUBLE / len(grams)) > 0.06
                 AS is_repetitive
        FROM g
        """,
    ),
    # Sliding-window token chunking (training-sequence prep; map-only).
    "text_chunk_sliding": df_q(
        lambda spark, sf: text.chunk_sliding(
            load(spark, sf, "documents"), "doc_id", "text", size=32, stride=24
        ),
        ("documents",),
        oracle="""
        SELECT doc_id,
               CAST(k AS BIGINT) AS chunk_idx,
               CAST(k * 24 + 1 AS BIGINT) AS start_token,
               CAST(len(w[(k*24 + 1):(k*24 + 32)]) AS BIGINT)
                 AS n_chunk_tokens,
               md5(array_to_string(w[(k*24 + 1):(k*24 + 32)], ' '))
                 AS chunk_md5
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
              FROM documents),
             UNNEST(generate_series(0,
               greatest(CAST(ceil((len(w) - 32) / 24.0) AS BIGINT), 0)))
               AS t(k)
        """,
    ),
    # PII scrub report over deterministically injected synthetic contacts
    # (the corpus itself is PII-free): email + phone regex counts and the
    # hash of the redacted text.
    "text_pii_redact": df_q(
        lambda spark, sf: text.pii_stats(
            load(spark, sf, "documents").select(
                "doc_id",
                F.concat(
                    F.col("text"),
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ).alias("text"),
            ),
            "doc_id",
            "text",
        ),
        ("documents",),
        oracle="""
        WITH t AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or 555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                 AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '\\b555-[0-9]{4}\\b'))
                 AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'), '\\b555-[0-9]{4}\\b', '<PHONE>', 'g'))
                 AS redacted_md5
        FROM t
        """,
    ),
    # Gopher rule-based quality gate (Rae et al. 2021): per-doc metrics,
    # one flag per rule, keep = conjunction. Map-only scan-side filter.
    "text_gopher_filters": df_q(
        lambda spark, sf: text.gopher_stats(
            load(spark, sf, "documents"), "doc_id", "text"
        ),
        ("documents",),
        oracle="""
        WITH m AS (
          SELECT doc_id,
                 len(w) AS n,
                 round(list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                           list_transform(w,
                             x -> CAST(length(x) AS BIGINT))),
                         (a, b) -> a + b)::DOUBLE / len(w), 6) AS avg_tok_len,
                 round(len(list_filter(w,
                         x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                       / len(w), 6) AS alpha_ratio,
                 CAST(len(list_filter(w, x -> x IN
                   ('the','a','and','of','to','in','is','it')))
                   AS BIGINT) AS stop_hits,
                 round(len(list_filter(w,
                         x -> x = '#' OR x = '...'))::DOUBLE
                       / len(w), 6) AS symbol_ratio
          FROM (SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS w
                FROM documents)
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               avg_tok_len, alpha_ratio, stop_hits, symbol_ratio,
               n BETWEEN 25 AND 5000 AS ok_n_tokens,
               avg_tok_len BETWEEN 3.0 AND 10.0 AS ok_avg_len,
               alpha_ratio >= 0.8 AS ok_alpha,
               stop_hits >= 2 AS ok_stopwords,
               symbol_ratio < 0.1 AS ok_symbols,
               (n BETWEEN 25 AND 5000) AND (avg_tok_len BETWEEN 3.0 AND 10.0)
                 AND alpha_ratio >= 0.8 AND stop_hits >= 2
                 AND symbol_ratio < 0.1 AS keep
        FROM m
        """,
    ),
    # CCNet-style (Wenzek et al. 2020) LM scoring: every doc's mean
    # negative log prob under the corpus unigram LM, tiered head/middle/
    # tail. The LM is a broadcast token->logprob table; a KenLM 5-gram
    # drops into the same slot.
    "text_unigram_lm": df_q(
        _unigram_lm, ("documents",), oracle=_UNIGRAM_LM_ORACLE
    ),
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
    # Per-document lexical diversity (type-token ratio) — a core
    # training-data quality signal alongside the Gopher battery.
    # Pure array ops, zero explode/shuffle on the Spark side.
    "text_ttr_diversity": sql_q(
        r"""
        SELECT doc_id,
               CAST(SIZE(SPLIT(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
               CAST(CAST(FLOOR(
                 CAST(SIZE(ARRAY_DISTINCT(SPLIT(TRIM(text), '\\s+')))
                      AS DOUBLE)
                 / SIZE(SPLIT(TRIM(text), '\\s+'))
                 * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000 AS ttr
        FROM documents
        WHERE LENGTH(TRIM(text)) > 0
        """,
        ("documents",),
        oracle=r"""
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(CAST(FLOOR(
                 CAST(len(list_distinct(
                        string_split_regex(trim(text), '\s+')))
                      AS DOUBLE)
                 / len(string_split_regex(trim(text), '\s+'))
                 * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000 AS ttr
        FROM documents
        WHERE LENGTH(TRIM(text)) > 0
        """,
    ),
    # Flesch-Kincaid grade level (LLM-corpus quality scoring): vowel-group
    # syllable heuristic per word, sentence count from terminal
    # punctuation runs. The grade formula 0.39*w/s + 11.8*syll/w - 15.59
    # is rewritten over the common denominator 100*w*s so the numerator
    # stays an exact integer and the only double op is one division.
    # Map-only over the corpus; the per-word regexp runs in a JVM lambda.
    "text_readability_fk": sql_q(
        """
        WITH w AS (
          SELECT doc_id, split(trim(text), '\\\\s+') AS words,
                 GREATEST(regexp_count(text, '[.!?]+'), 1) AS n_sents
          FROM documents
        ), s AS (
          SELECT doc_id, n_sents, size(words) AS n_words,
                 AGGREGATE(TRANSFORM(words,
                     x -> GREATEST(regexp_count(lower(x), '[aeiouy]+'), 1)),
                   0L, (acc, x) -> acc + x) AS n_syll
          FROM w
        )
        """ + _FK_SELECT,
        ("documents",),
        oracle="""
        WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words,
                 GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS n_sents
          FROM documents
        ), s AS (
          SELECT doc_id, n_sents, len(words) AS n_words,
                 list_sum(list_transform(words,
                     x -> GREATEST(len(regexp_extract_all(lower(x),
                                                          '[aeiouy]+')), 1)
                 )) AS n_syll
          FROM w
        )
        """ + _FK_SELECT,
    ),
    # Hapax legomena share per source — the classic vocabulary-quality
    # signal (a source whose vocabulary is mostly one-off tokens is
    # OCR noise or boilerplate-free prose; one drifting upward is
    # degenerating). Shuffle carries (source, token) pairs.
    "text_hapax_ratio": df_q(
        lambda spark, sf: (
            load(spark, sf, "documents")
            .select(
                "source",
                F.explode(
                    F.split(F.trim(F.col("text")), r"\s+")
                ).alias("tok"),
            )
            .groupBy("source", "tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("vocab"),
                F.sum((F.col("c") == 1).cast("long"))
                .cast("long").alias("hapax"),
                (
                    F.sum((F.col("c") == 1).cast("long")).cast("double")
                    / F.count(F.lit(1))
                ).alias("hapax_ratio"),
            )
            .orderBy("source")
        ),
        ("documents",),
        oracle="""
        WITH tc AS (
          SELECT source, tok, COUNT(*) AS c FROM (
            SELECT source,
                   UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents
          ) t GROUP BY source, tok
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS hapax,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) AS hapax_ratio
        FROM tc GROUP BY source ORDER BY source
        """,
    ),
    # Term burstiness (Church/Gale): variance-to-mean ratio of per-doc
    # counts over ALL docs (zeros included — algebraically folded in:
    # VMR = (N*sum(x^2) - (sum x)^2) / (N*sum x), every term an exact
    # int64). Top-20 by corpus frequency; function words sit near
    # Poisson (VMR ~ 1), topical words burst (VMR >> 1).
    "text_burstiness": df_q(
        lambda spark, sf: (
            lambda docs: (
                docs.select(
                    "doc_id",
                    F.explode(
                        F.split(F.trim(F.col("text")), r"\s+")
                    ).alias("tok"),
                )
                .groupBy("tok", "doc_id")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("tok")
                .agg(
                    F.sum("c").cast("long").alias("s"),
                    F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
                    F.count(F.lit(1)).cast("long").alias("nd"),
                )
                .crossJoin(
                    F.broadcast(
                        docs.agg(
                            F.count(F.lit(1)).cast("long").alias("nn")
                        )
                    )
                )
                .select(
                    "tok",
                    F.col("s").alias("total_tf"),
                    F.col("nd").alias("n_docs_present"),
                    (
                        (F.col("nn") * F.col("ss") - F.col("s") * F.col("s"))
                        .cast("double")
                        / (F.col("nn") * F.col("s")).cast("double")
                    ).alias("vmr"),
                )
                .orderBy(F.desc("total_tf"), "tok")
                .limit(20)
            )
        )(load(spark, sf, "documents")),
        ("documents",),
        oracle="""
        WITH tc AS (
          SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT doc_id,
                   UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents
          ) t GROUP BY tok, doc_id
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
        a AS (
          SELECT tok, CAST(SUM(c) AS BIGINT) AS s,
                 CAST(SUM(c * c) AS BIGINT) AS ss,
                 CAST(COUNT(*) AS BIGINT) AS nd
          FROM tc GROUP BY tok
        )
        SELECT tok, s AS total_tf, nd AS n_docs_present,
               CAST(nn.nn * a.ss - a.s * a.s AS DOUBLE)
                 / CAST(nn.nn * a.s AS DOUBLE) AS vmr
        FROM a, nn
        ORDER BY total_tf DESC, tok LIMIT 20
        """,
    ),
    "text_sentence_dedup": sql_q(
        _SENT_DEDUP_BODY.format(src=_SENT_SPARK_SRC),
        ("documents",),
        oracle=_SENT_DEDUP_BODY.format(src=_SENT_DUCK_SRC),
    ),
    "text_ngram_coverage": sql_q(
        _COVERAGE_BODY.format(
            gram="gram", src=_COV_SPARK_SRC, head_k=1000,
            grid="explode(array(10, 100, 1000))",
        ),
        ("documents",),
        oracle=_COVERAGE_BODY.format(
            gram="gram", src=_COV_DUCK_SRC, head_k=1000,
            grid="UNNEST([10, 100, 1000])",
        ),
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
    "text_simpson_diversity": sql_q(
        _SIMPSON_SPARK, ("documents",), oracle=_SIMPSON_DUCK
    ),
    "text_bigram_perplexity": df_q(
        _bigram_xent, ("documents",), oracle=_BIGRAM_XENT_DUCK
    ),
    "text_js_divergence_sources": df_q(
        _jsd_sources, ("documents",), oracle=_JSD_DUCK
    ),
}
