"""Data selection and mixing (``sample_*``, ``dsir_*``, ``mix_*``,
``pack_*``, ``shard_*`` and ``pipeline_filter_funnel``): hash splits,
temperature and quota sampling, DSIR importance resampling, UniMax
budgets, sequence packing and shard assignment.

Every random choice is a hash of the row key, so Spark and DuckDB draw
the same sample.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline import selection, text
from cassandra_sql_spark.queries.base import Q, df_q, sql_q


_HEX = "0123456789abcdef"


def _md5_unit(idcol):
    """Deterministic uniform in [0,1) from md5(id): the 8-hex-digit
    base-16 expansion. Digit values and 16^-i are exact in binary, so the
    sum is bit-identical across engines (no hex->int builtin is shared by
    Spark and DuckDB; the digit expansion is)."""
    h = F.md5(idcol.cast("string"))
    u = F.lit(0.0)
    for i in range(1, 9):
        u = u + (
            F.instr(F.lit(_HEX), F.substring(h, i, 1)) - 1
        ).cast("double") / float(16**i)
    return u


def _md5_unit_sql(key: str) -> str:
    """The same expansion in DuckDB SQL, of the VARCHAR ``key``."""
    return "(" + " + ".join(
        f"(instr('{_HEX}', substr(md5({key}), {i}, 1)) - 1)::DOUBLE"
        f" / {16**i}"
        for i in range(1, 9)
    ) + ")"


def _pack_token_budget(spark, sf):
    """Contiguous-fill packing: pack_id = floor(exclusive-prefix-sum /
    512). The prefix sum is sharded (operators.global_order), exact, and
    identical to the single-window form — pinned by the exceptAll
    identity in tests/test_global_order.py and by the DuckDB oracle."""
    from cassandra_sql_spark.operators.global_order import sharded_cumsum

    toks = (
        load(spark, sf, "documents")
        .select("doc_id", text.token_count(F.col("text")).alias("n_tokens"))
        .localCheckpoint(eager=True)
    )
    return sharded_cumsum(toks, ["doc_id"], "n_tokens", out_col="cum").select(
        "doc_id",
        "n_tokens",
        F.floor(
            (F.col("cum") - F.col("n_tokens")).cast("double") / 512
        )
        .cast("bigint")
        .alias("pack_id"),
    )


def _dsir(spark, sf):
    docs = load(spark, sf, "documents")
    w = selection.dsir_bucket_weights(docs, "text", F.col("lang") == "en")
    d = selection.dsir_doc_weights(docs, "doc_id", "text", w)
    return selection.dsir_select_topk(d, "doc_id", 0.25)


_DSIR_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS w
  FROM documents
), bg AS (
  SELECT doc_id, lang,
         unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
  FROM toks
), bb AS (
  SELECT doc_id, lang,
         CAST((instr('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5(g), 2, 1)) - 1)
              AS INTEGER) AS b
  FROM bg
), per AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM bb GROUP BY b
), tot AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(ct) AS BIGINT) AS nt
  FROM per
), wtab AS (
  SELECT b,
         CAST(FLOOR((ln((ct::DOUBLE + 1.0) / (nt::DOUBLE + 256.0))
                     - ln((cr::DOUBLE + 1.0) / (nr::DOUBLE + 256.0)))
                    * 1000000 + 0.5) AS BIGINT) AS lw6
  FROM per, tot
), doc AS (
  SELECT bb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         SUM(w2.lw6) AS w6
  FROM bb JOIN wtab w2 USING (b) GROUP BY bb.doc_id
), allw AS (
  SELECT d.doc_id,
         COALESCE(doc.n_feats, 0) AS n_feats,
         CAST(COALESCE(doc.w6, 0) AS DOUBLE) / 1000000 AS logw
  FROM documents d LEFT JOIN doc ON doc.doc_id = d.doc_id
)
SELECT doc_id, n_feats, logw,
       ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id)
         <= CEIL(COUNT(*) OVER () * 0.25) AS keep
FROM allw
"""


def _source_kl(spark, sf):
    """Per-source KL(p_source || p_corpus) over the token unigram
    distribution — the mixing diagnostic that tells you which sources are
    distributionally far from the blend. Shuffle bounded by
    |sources| x |vocab| after partial agg; per-term contributions are
    9dp scaled-int rounded so the exact BIGINT sum is order-independent."""
    docs = load(spark, sf, "documents")
    from cassandra_sql_spark.pipeline.dedup import tokens

    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    per = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cs"))
    corpus = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = corpus.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )
    stot = per.groupBy("source").agg(F.sum("cs").alias("ns"))
    j = (
        per.join(F.broadcast(corpus), "tok")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(totals))
    )
    ps = (F.col("cs").cast("double") + 0.5) / (
        F.col("ns").cast("double") + 0.5 * F.col("v").cast("double")
    )
    p = (F.col("c").cast("double") + 0.5) / (
        F.col("n").cast("double") + 0.5 * F.col("v").cast("double")
    )
    term9 = F.floor(
        ps * (F.log(ps) - F.log(p)) * 1_000_000_000 + F.lit(0.5)
    ).cast("bigint")
    return (
        j.select("source", F.col("ns").cast("long").alias("n_tokens"), term9.alias("_t9"))
        .groupBy("source", "n_tokens")
        .agg(
            (F.sum("_t9").cast("double") / 1_000_000_000).alias("kl_nats")
        )
    )


_SOURCE_KL_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), per AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cs
  FROM tok GROUP BY source, tok
), corpus AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY tok
), totals AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
  FROM corpus
), stot AS (
  SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM per GROUP BY source
)
SELECT per.source, stot.ns AS n_tokens,
       CAST(SUM(CAST(FLOOR(
         ((cs::DOUBLE + 0.5) / (ns::DOUBLE + 0.5 * v::DOUBLE))
         * (ln((cs::DOUBLE + 0.5) / (ns::DOUBLE + 0.5 * v::DOUBLE))
            - ln((c::DOUBLE + 0.5) / (n::DOUBLE + 0.5 * v::DOUBLE)))
         * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000
         AS kl_nats
FROM per
JOIN corpus USING (tok)
JOIN stot ON stot.source = per.source
CROSS JOIN totals
GROUP BY per.source, stot.ns
"""

# -- deterministic md5 sharding -------------------------------------------
_SHARD_SPARK = """
WITH s AS (
  SELECT doc_id, n_chars,
         PMOD(CAST(CONV(SUBSTRING(MD5(CAST(doc_id AS STRING)), 1, 15),
                        16, 10) AS BIGINT), 16) AS shard
  FROM documents
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT)
         AS max_doc
FROM s GROUP BY shard ORDER BY shard
"""

_SHARD_DUCK = """
WITH s AS (
  SELECT doc_id, n_chars,
         ((('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16)
          + 16) % 16 AS shard
  FROM documents
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT)
         AS max_doc
FROM s GROUP BY shard ORDER BY shard
"""


# -- quality-filter funnel with first-failing-rule attribution ------------
# Rules in precedence order (a doc is attributed to the FIRST rule it
# fails): too_short (< 200 chars), too_few_words (< 30), word-length
# band (mean word length outside [3, 10] — cross-multiplied, no
# division), symbol_heavy (letters+digits+spaces < 70% of chars).
# One map-side scan; the shuffle carries 5 rows.


def _funnel_sql(ntok: str, alnum: str) -> str:
    return f"""
WITH m AS (
  SELECT doc_id,
         length(text) AS nch,
         {ntok} AS ntok,
         length(replace(text, ' ', '')) AS nosp,
         {alnum} AS nalnum
  FROM documents
),
r AS (
  SELECT doc_id,
         CASE
           WHEN nch < 200 THEN 'r1_too_short'
           WHEN ntok < 30 THEN 'r2_too_few_words'
           WHEN nosp < 3 * ntok OR nosp > 10 * ntok
             THEN 'r3_word_length_band'
           WHEN 10 * nalnum < 7 * nch THEN 'r4_symbol_heavy'
           ELSE 'keep'
         END AS rule
  FROM m
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r)
SELECT rule, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS DOUBLE) / tot.n AS share
FROM r, tot GROUP BY rule, tot.n ORDER BY rule
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

QUERIES: dict[str, Q] = {
    # Deterministic hash-based train/eval split (the standard reproducible
    # holdout: assignment depends only on the id, never on partitioning,
    # sampling order, or cluster size). ~1/16 of docs land in eval.
    "sample_md5_split": df_q(
        lambda spark, sf: load(spark, sf, "documents").select(
            "doc_id",
            F.when(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
                == "0",
                F.lit("eval"),
            )
            .otherwise(F.lit("train"))
            .alias("split"),
        ),
        ("documents",),
        oracle="""
        SELECT doc_id,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
                    THEN 'eval' ELSE 'train' END AS split
        FROM documents
        """,
    ),
    # Token-budget sequence packing: contiguous-fill pack assignment via a
    # running token total. The global prefix sum goes through
    # operators.global_order.sharded_cumsum (range-shard + per-shard
    # running sum + broadcast prefix offsets), so the contiguous-fill
    # semantics keep their exact global order with NO single-reducer
    # window — the former "documented shard fallback" is now the shipped
    # plan. The (doc_id, n_tokens) projection is checkpointed first: two
    # ExistingRDD reads (shard totals + cumsum pass), one corpus scan.
    "pack_token_budget": df_q(
        lambda spark, sf: _pack_token_budget(spark, sf),
        ("documents",),
        oracle="""
        SELECT doc_id, n_tokens,
               CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / 512) AS BIGINT)
                 AS pack_id
        FROM (
          SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens,
                 SUM(CAST(len(string_split_regex(trim(text), '\\s+'))
                     AS BIGINT))
                   OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
          FROM documents
        )
        """,
    ),
    # Temperature-weighted source mixing (alpha = 0.5): per-source keep
    # rate (cnt_min/cnt_s)^(1-alpha) flattens the source distribution the
    # way multilingual/multi-corpus training mixes do. The accept draw is
    # a deterministic md5-derived uniform (digit expansion is exact binary
    # math -> bit-identical across engines); one tiny stats agg broadcast
    # back over the corpus, then a map-side filter.
    "sample_temperature": df_q(
        lambda spark, sf: (
            load(spark, sf, "documents")
            .select("doc_id", "source")
            .join(
                F.broadcast(
                    (
                        lambda cnts: cnts.crossJoin(
                            F.broadcast(
                                cnts.agg(F.min("_cnt").alias("_mincnt"))
                            )
                        )
                    )(
                        load(spark, sf, "documents")
                        .groupBy("source")
                        .agg(F.count(F.lit(1)).alias("_cnt"))
                    )
                ),
                "source",
            )
            .filter(
                _md5_unit(F.col("doc_id"))
                < F.sqrt(
                    F.col("_mincnt").cast("double")
                    / F.col("_cnt").cast("double")
                )
            )
            .select("doc_id", "source")
        ),
        ("documents",),
        oracle=f"""
        WITH c AS (
          SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
        ), m AS (SELECT MIN(cnt) AS mincnt FROM c)
        SELECT d.doc_id, d.source
        FROM documents d JOIN c ON c.source = d.source, m
        WHERE {_md5_unit_sql("CAST(d.doc_id AS VARCHAR)")}
              < sqrt(m.mincnt::DOUBLE / c.cnt::DOUBLE)
        """,
    ),
    # Per-source quota sampling (corpus balancing): keep at most Q docs
    # per source, chosen by deterministic md5 order — one window pass.
    "sample_source_quota": df_q(
        lambda spark, sf: (
            load(spark, sf, "documents")
            .select(
                "doc_id",
                "source",
                F.row_number()
                .over(
                    W.partitionBy("source").orderBy(
                        F.md5(F.col("doc_id").cast("string")), "doc_id"
                    )
                )
                .alias("rk"),
            )
            .filter(F.col("rk") <= 10)
            .select("doc_id", "source")
        ),
        ("documents",),
        oracle="""
        SELECT doc_id, source
        FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents
        )
        WHERE rk <= 10
        """,
    ),
    # Deterministic stratified sampling: per-language keep rates in
    # sixteenths via the md5 hex prefix (en 4/16, others 8/16) — assignment
    # depends only on the id, never on partitioning or cluster size.
    "sample_stratified": df_q(
        lambda spark, sf: (
            lambda d, h: d.select(
                "doc_id",
                "lang",
                F.when(F.col("lang") == "en", h.isin("0", "1", "2", "3"))
                .otherwise(h < "8")
                .alias("keep"),
            ).filter("keep")
        )(
            load(spark, sf, "documents"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        ),
        ("documents",),
        oracle="""
        SELECT doc_id, lang, TRUE AS keep
        FROM (
          SELECT doc_id, lang,
                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
          FROM documents
        )
        WHERE CASE WHEN lang = 'en' THEN h IN ('0', '1', '2', '3')
                   ELSE h < '8' END
        """,
    ),
    # Deterministic global shuffle into training shards: shard by a
    # seeded md5-uniform, order within shard by the same uniform. The
    # standard pre-training "shuffle then shard" writer — reproducible
    # from ids alone, and the per-shard window parallelizes across shards
    # (at 100 TB, thousands of shards => thousands of window tasks; the
    # uniform key makes shard sizes tightly concentrated, no skew).
    "sample_global_shuffle": df_q(
        lambda spark, sf: load(spark, sf, "documents")
        .select(
            "doc_id",
            _md5_unit(
                F.concat(F.col("doc_id").cast("string"), F.lit(":42"))
            ).alias("u"),
        )
        .select(
            "doc_id",
            F.floor(F.col("u") * 8).cast("long").alias("shard"),
            F.row_number()
            .over(
                W.partitionBy(F.floor(F.col("u") * 8)).orderBy(
                    "u", "doc_id"
                )
            )
            .cast("long")
            .alias("pos"),
        ),
        ("documents",),
        oracle=f"""
        WITH u AS (
          SELECT doc_id,
                 {_md5_unit_sql("CAST(d.doc_id AS VARCHAR) || ':42'")} AS u
          FROM documents d
        )
        SELECT doc_id,
               CAST(FLOOR(u * 8) AS BIGINT) AS shard,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY CAST(FLOOR(u * 8) AS BIGINT)
                 ORDER BY u, doc_id) AS BIGINT) AS pos
        FROM u
        """,
    ),
    # DSIR (Xie et al. 2023): hashed-bigram importance weights toward the
    # lang='en' target slice; deterministic top-25% selection.
    "dsir_importance": df_q(_dsir, ("documents",), oracle=_DSIR_ORACLE),
    # UniMax (Chung et al. 2023) epoch-capped budget allocation across
    # sources. Allocation dimension is `lang` (the corpus' skewed
    # grouping: `source` is uniform in the synthetic data, which would
    # never exercise the capped branch); small languages hit the 2-epoch
    # cap, the big one absorbs the remaining budget. The Spark side runs
    # the sharded_multi form (rank + prefix-sum in one shard pass, no
    # unpartitioned window — r12); DuckDB runs the one-statement ANSI
    # form as the oracle.
    "sample_unimax": df_q(
        lambda spark, sf: selection.unimax_allocation(
            load(spark, sf, "documents"),
            source="lang",
            budget_frac=1.8,
            max_epochs=2,
        ),
        ("documents",),
        oracle=selection.unimax_allocation_sql(
            table="documents", source="lang",
            budget_frac=1.8, max_epochs=2,
        ),
    ),
    # Mixing diagnostic: which sources sit distributionally far from the
    # corpus blend (drives re-weighting decisions alongside sample_unimax
    # / sample_temperature).
    "mix_source_kl": df_q(
        _source_kl, ("documents",), oracle=_SOURCE_KL_ORACLE
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
    "shard_assignment": sql_q(
        _SHARD_SPARK, ("documents",), oracle=_SHARD_DUCK
    ),
    "pipeline_filter_funnel": sql_q(
        _funnel_sql(
            ntok="size(split(trim(text), '\\\\s+'))",
            alnum="length(regexp_replace(text, '[^a-zA-Z0-9 ]', ''))",
        ),
        ("documents",),
        oracle=_funnel_sql(
            ntok="len(string_split_regex(trim(text), '\\s+'))",
            alnum="length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))",
        ),
    ),
    "sample_stratified_quota": sql_q(
        _QUOTA_SAMPLE_BODY.format(str="STRING"),
        ("documents",),
        oracle=_QUOTA_SAMPLE_BODY.format(str="VARCHAR"),
    ),
}
