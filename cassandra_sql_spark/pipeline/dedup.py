"""Deduplication operators (north-star extension; the reference has no
dedup surface at all — SURVEY §2.10: no UDFs, no DISTINCT execution path).

Five strategies, all pure DataFrame/Catalyst (no Python UDFs):

- exact:        normalize -> hash-groupBy (one shuffle on the hash key)
- ngram-jaccard: word-shingle inverted index join -> exact Jaccard verify.
                Complete (a pair with J >= t shares >= 1 shingle), used as
                the small-scale baseline and the verifier for LSH paths.
- minhash-lsh:  64 minhashes -> 16 bands x 4 rows -> bucket join -> verify.
                The 100 TB path: candidate generation touches only
                bucket-colliding pairs, never O(n^2).
- simhash:      64-bit signature via per-bit token-hash majority; near-dup =
                Hamming distance <= k found by 4x16-bit chunk banding
                (pigeonhole: d <= 3 forces >= 1 equal chunk).
- embedding-cosine: see cassandra_sql_spark.pipeline.similarity.

Every primitive the strategies share exists once:

- n-grams and shingles: ngrams_sql / shingles_sql / hashed_shingles_sql
  build one SQL expression; word_ngrams / word_shingles /
  hashed_shingles wrap it for a column name.
- the minhash sketch: minhash_sketch (shingle table + signatures) under
  the batch pair search, the on-disk index and its incremental probe;
  _banded_keys derives the band keys of all three.
- connected components: dup_clusters (large-star/small-star, run to its
  fixed point) under every pairs -> clusters step.

Scale notes: every strategy is shuffle-bounded by the exploded index
(shingles or bands), not by pairs. Hot shingles in the inverted index are
the skew risk at 100 TB — cap candidate fan-out by dropping ultra-frequent
shingles (df_cutoff) like a stopword list; AQE skew-join handles the rest.
"""

from __future__ import annotations

from itertools import count as _counter

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_sql_spark.literals import sql_ident

MOD = 1_000_000_007

# Per-invocation nonce for the cascade's persisted index (see
# _ngram_pair_intersections): Spark's CacheManager serves plan-identical
# persists from the first materialization, which would let one
# invocation's index feed another's — the nonce keeps every invocation
# recomputing from the parquet inputs.
_CASCADE_NONCE = _counter()


def spread(df: DataFrame) -> DataFrame:
    """Re-spread a narrow scan across all cores before CPU-heavy per-row
    map work (shingling, hashing, chunking).

    Parquet tasks can't split below row-group granularity: a small corpus
    written as one row group scans as ONE task, serializing the dominant
    map phase of every text operator on a single core (measured: the
    sf0.1 shingle pass dropped 1.9s -> 0.2s on local[32]). At real scale
    an input has orders of magnitude more splits than cores, the guard is
    false, and this is a no-op — the repartition only ever fires for
    scans too narrow to occupy the cluster, where the shuffled bytes are
    by construction small."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def ngrams_sql(col_sql: str, k: int) -> str:
    """k-word grams of the SQL expression ``col_sql`` in document order
    (with repeats), as ONE SQL expression string: one ``F.expr`` parse
    instead of ~50 py4j round trips per construction (the rebuild-path
    bench queries construct inside the timed region).

    The token array is lambda-bound (evaluated once per row) and grams
    are k O(1) ``element_at`` lookups — no shifted array copies. (The
    naive transform(sequence, i -> concat_ws(slice(w, i, k))) form
    re-slices the token array per element inside an interpreted
    higher-order function: O(n*k) copies per row, measured ~10x slower
    on the shingling paths.) A doc with fewer than k tokens has NO
    k-gram — the ``range(1, len(w)-(k-2))`` convention every DuckDB
    oracle uses; the explicit size branch also keeps ANSI mode from
    raising on out-of-bounds ``element_at``. NULL text gives NULL."""
    gram = ", ".join(f"element_at(w, i + {j})" for j in range(k))
    body = (
        f"if(w IS NULL, CAST(NULL AS ARRAY<STRING>), "
        f"if(size(w) < {k}, array(), "
        f"transform(sequence(1, size(w) - {k - 1}), "
        f"i -> concat_ws(' ', {gram}))))"
    )
    return (
        f"element_at(transform(array(split(trim({col_sql}), '\\\\s+')), "
        f"w -> {body}), 1)"
    )


def shingles_sql(col_sql: str, k: int) -> str:
    """Distinct k-word shingles of ``col_sql`` (see ngrams_sql)."""
    return f"array_distinct({ngrams_sql(col_sql, k)})"


def hashed_shingles_sql(col_sql: str, k: int) -> str:
    """Distinct k-word shingles of ``col_sql`` hashed to int64."""
    return f"transform({shingles_sql(col_sql, k)}, g -> xxhash64(g))"


def word_ngrams(col: str, k: int) -> Column:
    """k-word grams of column ``col`` in document order (ngrams_sql)."""
    return F.expr(ngrams_sql(sql_ident(col), k))


def word_shingles(col: str, k: int = 3) -> Column:
    """Distinct k-word shingles of column ``col``."""
    return F.expr(shingles_sql(sql_ident(col), k))


def hashed_shingles(col: str, k: int = 3) -> Column:
    """Distinct k-word shingles of column ``col`` hashed to int64
    (xxhash64).

    Every shingle-join path uses these instead of the raw strings: the
    inverted-index shuffle moves fixed 8-byte keys instead of
    variable-length gram strings, and join/agg key comparison is a long
    compare. Set semantics are preserved modulo xxhash64 collisions
    (p ≈ m²/2⁶⁴ per doc for m grams — negligible; the DuckDB oracles on
    the string grams still hash-match).
    """
    return F.expr(hashed_shingles_sql(sql_ident(col), k))


def normalize_text(col: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per normalized text; report cluster size."""
    return (
        spread(df)
        .select(
            F.col(id_col), normalize_text(F.col(text_col)).alias("_norm")
        )
        .groupBy("_norm")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .drop("_norm")
    )


def repeated_chunk_dedup(
    df: DataFrame, id_col: str, text_col: str, chunk_words: int = 8
) -> DataFrame:
    """Cross-document repeated-span removal at chunk granularity — the
    boilerplate scrub of Lee et al. 2021 ("Deduplicating Training Data
    Makes Language Models Better") restricted to aligned fixed-width word
    chunks: every chunk of ``chunk_words`` tokens is kept only at its first
    corpus occurrence (smallest (doc_id, chunk_idx)); later occurrences are
    dropped and each doc is re-assembled from its surviving chunks.

    Scale shape: first-occurrence is computed with MIN(packed-position)
    GROUP BY chunk — a partial-aggregable agg with map-side combine, so a
    boilerplate chunk occurring 10^9 times at 100 TB costs one combined
    row per map task, NOT a single-task window over the hot key (the
    row_number-over-chunk formulation melts on exactly the skewed keys this
    op exists to remove). Then one equi-join back on the 8-byte xxhash of
    the chunk and a doc_id-partitioned reassembly agg. Two shuffles total,
    both on bounded keys.

    Position packing: pos = doc_id * 2^20 + chunk_idx (docs are chunk-
    bounded far below 2^20; asserted). Exact integer min, identical in the
    DuckDB oracle.
    """
    w = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(w) / F.lit(chunk_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(w, i * chunk_words + 1, chunk_words), " "
        ),
    )
    ex = spread(df).select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select(
        F.col(id_col),
        "chunk_idx",
        "chunk",
        F.xxhash64("chunk").alias("_ch"),
        (F.col(id_col) * F.lit(1 << 20) + F.col("chunk_idx")).alias("_pos"),
    )
    # The exploded chunk stream feeds BOTH the first-occurrence agg and the
    # join probe; without materialization Catalyst plans two full
    # scan+chunk passes over the corpus (no common-subplan reuse across an
    # agg and its consumer — same shape as ngram_jaccard_pairs above).
    ex = ex.localCheckpoint(eager=True)
    firsts = ex.groupBy("_ch").agg(F.min("_pos").alias("_first"))
    kept = ex.join(firsts, "_ch").withColumn(
        "_keep", F.col("_pos") == F.col("_first")
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.col("_keep").cast("long")).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct("chunk_idx", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("dedup_text"),
        )
    )


def _jaccard(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(
        F.array_union(a, b)
    )


def _ngram_pair_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    df_cutoff: int | None = None,
) -> DataFrame:
    """(da, db, na, nb, _inter) for every candidate doc pair sharing a
    (non-hot) shingle — the shared cascade under ngram_jaccard_pairs and
    ngram_containment_pairs.

    Candidate generation via inverted index on shingles (complete: any
    overlap metric above 0 implies a shared shingle), then exact
    counting. ``df_cutoff`` optionally drops shingles occurring in more
    than that many docs — trades completeness for bounded fan-out at
    scale.

    Two physical strategies (same result where both are defined):

    - capped (df_cutoff set): group the index by shingle, keep posting
      lists of size <= cutoff, and emit ordered pairs by double-exploding
      the (bounded) list with per-doc shingle counts carried in the
      structs. ONE scan of the corpus and two shuffles total — the
      join-based shape scanned the corpus 6x (index a, index b, the hot
      stoplist twice, na, nb) with no exchange reuse.
    - uncapped (df_cutoff=None, the exact verifier): classic
      inverted-index self-join — unbounded posting lists must not be
      collect_list'd into single rows.

    Shingle lists are distinct per doc, so the per-pair match count IS
    |A ∩ B|. Everything stays JVM-side — no per-pair array intersection
    (measured 5x the cost).
    """
    # The exploded value carries (shingle-count, gram-hash) structs built
    # ONCE per row inside a let binding (the shingle array is a lambda
    # variable, evaluated once). An expensive sibling column next to
    # explode() is re-evaluated per OUTPUT row of the generator (~|doc|
    # times) — measured 8x slower than the whole query when _n sat beside
    # the explode as a plain projection. Single-parse expr string (round
    # 12): the Column-API _let/transform/struct form cost ~0.07s of py4j
    # per construction, paid inside the bench's timed rebuild region.
    grams = F.expr(
        f"element_at(transform(array({shingles_sql(f'`{text_col}`', k)}), "
        f"s -> transform(s, g -> named_struct("
        f"'_n', size(s), '_g', xxhash64(g)))), 1)"
    )
    ex = (
        spread(df)
        .select(F.col(id_col).alias("_id"), F.explode(grams).alias("_e"))
        .select(
            F.struct("_id", F.col("_e._n").alias("_n")).alias("_d"),
            F.col("_e._g").alias("_g"),
        )
    )
    if df_cutoff is not None:
        # Stoplist FIRST (count agg is constant-size partial-agg state,
        # hot set is tiny -> broadcast anti-join), THEN collect_list: the
        # posting lists built are provably <= df_cutoff structs. Building
        # the list before filtering would materialize a hot shingle's
        # millions of docs into one aggregation-buffer row — the exact
        # blowup the cutoff exists to prevent.
        #
        # The index feeds BOTH the hot-set agg and the posting-list agg.
        # Without materialization Catalyst plans two full scan+shingle
        # passes over the corpus (no common-subplan reuse across different
        # aggs); the index is computed once and both consumers read the
        # materialized partitions. The hot-row economics survive: hot
        # shingles are still anti-joined away BEFORE any row shuffle (the
        # alternative — a count window over _g — would shuffle every hot
        # row to one reducer first, the straggler the stoplist exists to
        # prevent on boilerplate-heavy corpora).
        #
        # Round 13 (r12 verdict #5, guide §2.1/§2.4): the materialization
        # is a hash-repartition by _g into a persist() instead of a
        # localCheckpoint — localCheckpoint drops outputPartitioning at
        # the RDD boundary (the r12 dead end), while InMemoryTableScan
        # carries it, so BOTH _g-keyed consumers (the hot count and the
        # posting collect_list) now reuse the one exchange instead of
        # each shuffling again: executed exchanges 4 -> 3, and the full
        # index crosses the network once, not twice. The `_inv` nonce
        # makes every invocation's plan unique so Spark's CacheManager
        # can never serve one invocation's materialized index to another
        # (plan-identical cascades are common: several registry entries
        # share this pair source) — every invocation recomputes from the
        # parquet inputs, exactly like the checkpoint it replaces; the
        # constant column run-length-encodes to nothing in the cache.
        ex = (
            ex.withColumn("_inv", F.lit(next(_CASCADE_NONCE)))
            .repartition("_g")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        ex.count()  # materialize eagerly, like the checkpoint it replaces
        hot = ex.groupBy("_g").count().filter(F.col("count") > df_cutoff)
        posting = (
            ex.join(F.broadcast(hot.select("_g")), "_g", "left_anti")
            .groupBy("_g")
            .agg(F.collect_list("_d").alias("_ds"))
            .filter(F.size("_ds") >= 2)
        )
        cand = (
            posting.select(F.explode("_ds").alias("_a"), "_ds")
            .select("_a", F.explode("_ds").alias("_b"))
            .filter(F.col("_a._id") < F.col("_b._id"))
        )
        inter = cand.groupBy(
            F.col("_a._id").alias("da"),
            F.col("_b._id").alias("db"),
            F.col("_a._n").alias("na"),
            F.col("_b._n").alias("nb"),
        ).agg(F.count(F.lit(1)).alias("_inter"))
    else:
        flat = ex.select(
            F.col("_d._id").alias("_id"), F.col("_d._n").alias("_n"), "_g"
        )
        inter = (
            flat.alias("a")
            .join(flat.alias("b"), (F.col("a._g") == F.col("b._g"))
                  & (F.col("a._id") < F.col("b._id")))
            .groupBy(
                F.col("a._id").alias("da"),
                F.col("b._id").alias("db"),
                F.col("a._n").alias("na"),
                F.col("b._n").alias("nb"),
            )
            .agg(F.count(F.lit(1)).alias("_inter"))
        )
    return inter


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 3,
    df_cutoff: int | None = None,
) -> DataFrame:
    """All pairs with shingle-Jaccard >= threshold
    (|A ∪ B| = |A| + |B| - |A ∩ B|; see _ngram_pair_intersections)."""
    inter = _ngram_pair_intersections(df, id_col, text_col, k, df_cutoff)
    pairs = inter.select(
        "da",
        "db",
        (
            F.col("_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("_inter"))
        ).alias("jaccard"),
    )
    return pairs.filter(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 3,
    df_cutoff: int | None = None,
    min_shingles: int = 5,
) -> DataFrame:
    """Near-SUBSET detection: containment C = |A ∩ B| / min(|A|, |B|).

    Jaccard misses the boilerplate-wrapper case — a short document
    embedded verbatim inside a much longer one scores |A|/|B| << 1 on
    Jaccard but 1.0 on containment (Broder's original distinction).
    Same single-scan posting-list cascade as ngram_jaccard_pairs;
    ``min_shingles`` drops pairs where the smaller side is too tiny for
    the ratio to mean anything (and guards the 0/0 of shingle-less
    docs). C stays an exact-int ratio evaluated once in double."""
    inter = _ngram_pair_intersections(df, id_col, text_col, k, df_cutoff)
    pairs = inter.filter(
        F.least(F.col("na"), F.col("nb")) >= min_shingles
    ).select(
        "da",
        "db",
        F.col("na"),
        F.col("nb"),
        (
            F.col("_inter").cast("double")
            / F.least(F.col("na"), F.col("nb"))
        ).alias("containment"),
    )
    return pairs.filter(F.col("containment") >= threshold)


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node's strictly-larger neighbors connect to
    the minimum of its closed neighborhood (Kiveris et al., 'Connected
    Components in MapReduce and Beyond', SoCC'14)."""
    bidir = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = (
        bidir.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("u", "_mn").alias("_m"))
    )
    return (
        bidir.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small; every node's smaller
    neighbors (and itself) connect to its minimum neighbor."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = directed.groupBy("u").agg(F.min("v").alias("_m"))
    return (
        directed.join(m, "u")
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .union(m.select(F.col("u"), F.col("_m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def dup_clusters(
    pairs: DataFrame, a_col: str = "da", b_col: str = "db"
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_id).

    The step that turns pairwise dedup output into keep/drop decisions:
    every document in a component gets the component's minimum id as its
    cluster id (keep cluster_id == doc_id, drop the rest). Documents in
    no pair do not appear.

    Alternating large-star/small-star rounds (Kiveris et al., SoCC'14):
    each round is two groupBy-min + join passes over the EDGE set (never
    materializing neighborhoods), and path lengths shrink geometrically,
    so a component of diameter d settles in O(log d) rounds — min-label
    propagation needs O(d), which boilerplate chains make long. Lineage
    is cut per round with localCheckpoint (at 100 TB: checkpoint to
    object storage).

    There is no round cap: the loop runs until a round leaves the edge
    set unchanged, the fixed point where every component is a star
    around its minimum. Any cap returns wrong labels for the components
    that have not settled when it cuts in (a 200k-node chain with
    shuffled ids changes its edge set for 14 rounds), and the algorithm
    always reaches the fixed point, so the loop needs none. A round's
    edge set is identified by its (count, order-insensitive xxhash64
    xor) signature: one aggregate per round, no except/anti-join.
    """
    # pairs is read once: nodes and the first round both read this
    # checkpoint, not the (often expensive) pair search behind it
    raw = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).localCheckpoint()
    nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    edges = raw.filter(F.col("u") != F.col("v")).distinct()
    prev_sig = None
    while True:
        edges = _small_star(_large_star(edges)).localCheckpoint()
        sig = tuple(
            edges.agg(
                F.count(F.lit(1)), F.expr("bit_xor(xxhash64(u, v))")
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    # fixed point: every non-min node has exactly the edge (node -> min)
    labels = nodes.join(
        edges.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("_m")),
        "node",
        "left",
    )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.coalesce("_m", F.col("node")).alias("cluster_id"),
    )


def survivor_selection(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "n_chars",
    a_col: str = "da",
    b_col: str = "db",
) -> DataFrame:
    """The dedup finisher: near-dup pairs -> clusters -> ONE survivor per
    cluster, chosen by quality (max ``score_col``, ties to min id) instead
    of the naive min-id policy — what a production corpus dedup actually
    keeps. Documents in no pair survive as their own singleton cluster.

    Returns (cluster_id, keep_id, n_members): one row per cluster; the
    kept corpus is the keep_id set.

    Scale shape: components via large-star/small-star (O(log d) rounds,
    edge-set shuffles only), then the survivor pick is a pure partial+final
    aggregation — ``max_by(id, struct(score, -id))`` needs no per-cluster
    sort and no window (a row_number window would sort every cluster's
    rows; max_by keeps constant agg state per cluster). One shuffle on
    cluster_id over (id, score) pairs — never the documents.
    """
    clusters = dup_clusters(pairs, a_col, b_col)
    labeled = (
        docs.select(F.col(id_col), F.col(score_col))
        .join(clusters, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            score_col,
        )
    )
    return labeled.groupBy("cluster_id").agg(
        # struct compare is lexicographic: max score first, then max(-id)
        # = min id — deterministic because ids are unique
        F.max_by(
            F.col(id_col),
            F.struct(F.col(score_col), (-F.col(id_col)).alias("_nid")),
        ).alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Train/eval decontamination: (train_id, eval_id, n_shared) for every
    train document sharing >= 1 distinct k-gram with an eval document —
    the GPT-3-style n-gram overlap check.

    Shape: explode both sides' distinct shingles, equi-join on the gram,
    count matches per pair (lists are distinct per doc, so COUNT(*) is the
    distinct shared-gram count). The eval side is the small one by
    construction (holdout sets are tiny next to a 100 TB corpus), so it
    broadcasts: the train corpus is scanned once map-side, never shuffled.
    """
    w = tokens(F.col(text_col))
    tsh = spread(train).filter(F.size(w) >= k).select(
        F.col(id_col).alias("train_id"),
        F.explode(hashed_shingles(text_col, k)).alias("_g"),
    )
    esh = eval_df.filter(F.size(w) >= k).select(
        F.col(id_col).alias("eval_id"),
        F.explode(hashed_shingles(text_col, k)).alias("_g"),
    )
    return (
        tsh.join(F.broadcast(esh), "_g")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def bloom_decontam(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_probes: int = 7,
    num_bits: int = 1 << 17,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Scale-path decontamination: flag train docs sharing >= 1 k-gram
    with the eval set via a Bloom filter instead of a join.

    ``contamination_pairs`` broadcasts the eval side as exploded gram
    rows — right up to the point where a large eval suite (or a blocklist
    of copyrighted spans) stops fitting a broadcast hash relation. This
    variant collapses the eval side to an m-bit Bloom bitmap
    (``num_bits``/64 longs ~ 16 KB at the default) built with a bit_or
    aggregation, fetched to the driver (m/64 rows — the same bounded
    model-fetch class as the k-means stats), and inlined into the train
    scan as an array literal: the 100 TB side is then ONE map-only pass,
    no join, no shuffle, plan size independent of eval-set size.

    One-sided error like any Bloom filter: a doc sharing a gram is
    ALWAYS flagged (no false negatives — pinned against the exact join in
    tests); a clean doc is false-flagged with p ~ (1 - e^{-pn/m})^p,
    ~1e-5 per gram at the defaults for n=10^4 eval grams. In a production
    pipeline flagged docs go to the exact verifier (`contamination_pairs`
    restricted to the flagged slice), so false positives cost work, never
    data.

    Probe bits: pos_j = pmod(xxhash64(gram_hash, j), m); bit masks come
    from a 64-long literal lookup (shiftleft needs a literal shift in the
    DataFrame API; element_at on a constant array stays codegen'd).

    ``hash_family``: "xxhash64" (default, fastest — int64 gram keys,
    JVM-native probe hash) or "md5" — STRING grams, probe j at
    pmod(int(md5(gram || ':' || j)[:15hex]), m). md5 exists verbatim in
    DuckDB (('0x' || substring(md5(g || ':' || j), 1, 15))::BIGINT), so
    the md5 family makes the ENTIRE pipeline — bitmap build, probe
    positions, false positives included — engine-portable and therefore
    oracle-checkable end to end. Same one-sided-error contract; ~3x the
    per-gram probe cost (string concat + md5 vs one xxhash64), so the
    xxhash64 family stays the scale default and md5 is the verification
    twin (equivalence pinned in tests/test_pipeline.py).
    """
    w = tokens(F.col(text_col))
    masks = F.lit([1 << b for b in range(63)] + [-(1 << 63)])

    def pos_expr(g: Column, j: int) -> Column:
        if hash_family == "md5":
            return F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(g, F.lit(f":{j}"))), 1, 15),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(num_bits),
            )
        return F.pmod(F.xxhash64(g, F.lit(j)), F.lit(num_bits))

    def probes(g: Column) -> list[tuple[Column, Column]]:
        out = []
        for j in range(num_probes):
            pos = pos_expr(g, j)
            word = F.floor(pos / 64).cast("int")
            mask = F.element_at(masks, F.pmod(pos, 64).cast("int") + 1)
            out.append((word, mask))
        return out

    def grams_of(col: str) -> Column:
        if hash_family == "md5":
            return word_shingles(col, k)
        return hashed_shingles(col, k)

    egrams = (
        eval_df.filter(F.size(w) >= k)
        .select(F.explode(grams_of(text_col)).alias("_g"))
        .distinct()
    )
    set_bits = egrams.select(
        F.explode(
            F.array(
                *[
                    F.struct(word.alias("w"), mask.alias("m"))
                    for word, mask in probes(F.col("_g"))
                ]
            )
        ).alias("_b")
    ).groupBy(F.col("_b.w").alias("w")).agg(F.bit_or("_b.m").alias("m"))
    dense = [0] * (num_bits // 64)
    for r in set_bits.collect():  # <= num_bits/64 rows: bounded model fetch
        dense[r["w"]] = r["m"]
    bitmap = F.lit(dense)

    def gram_hits(g: Column) -> Column:
        cond = F.lit(True)
        for word, mask in probes(g):
            cond = cond & (
                F.element_at(bitmap, word + 1).bitwiseAND(mask) != 0
            )
        return cond

    grams = grams_of(text_col)
    return spread(train).select(
        F.col(id_col),
        F.size(F.filter(grams, gram_hits)).cast("long").alias(
            "n_flagged_grams"
        ),
    ).select(
        F.col(id_col),
        "n_flagged_grams",
        (F.col("n_flagged_grams") > 0).alias("flagged"),
    )


def minhash_signatures(
    sh: DataFrame, id_col: str, shingle_col: str, num_hashes: int = 64
) -> DataFrame:
    """Per-id minhash signature as ONE packed ``array<bigint>`` column
    ``_sig`` (length num_hashes): a map-only projection of num_hashes
    array_min(transform(...)) folds per row — NO explode, NO shuffle.

    Single ``aggregate()`` fold (round 7): one lambda folds every
    shingle into a num_hashes-wide min accumulator —
    ``aggregate(s, [MAX]*n, (acc, g) -> transform(acc, (a, i) ->
    least(a, xxhash64(g, i))))``. Codegen emits TWO nested loops
    instead of num_hashes unrolled transform loops, so whole-stage
    compilation cost drops ~num_hashes-fold: A/B vs the round-6
    64-unrolled ``array_min(transform(...))`` form at sf0.001 measured
    first-run 0.27s vs 3.16s (cold codegen was the dedup family's
    bench-record breach, BENCH_r06) and warm median 0.35s vs 1.58s.
    Hash values are bit-identical — ``transform``'s index parameter is
    the same IntegerType the old form's ``F.lit(i)`` seed was, so
    ``xxhash64(g, i)`` matches per slot (asserted by exceptAll identity
    at sf0.001/sf0.01 and by ``tests/test_pipeline.py``'s recall pins);
    band keys and on-disk index compatibility are unchanged.

    The fold needs no shuffle at all, which is also the better 100 TB
    shape (signatures come out of the same scan that shingled the
    text, map-only). History: r1 favored explode + 64-column min-agg;
    r6's interleaved A/B inverted that (1.27s vs 1.44s warm at sf0.1)
    as higher-order-function evaluation improved; r7's single-lambda
    fold beats both forms warm AND cold (SCALE.md §9).

    The signature is packed into one array column: downstream
    (checkpoint + banded self-join) carries a 2-column row instead of
    65 (codegen width). Band keys derive from element_at, so key VALUES
    — and on-disk index compatibility — are unchanged.

    Docs with an EMPTY shingle set are excluded, exactly as the old
    explode/agg form did implicitly (no exploded rows -> no group):
    they have no Jaccard identity, and a NULL-element signature would
    put every empty doc in the same bucket of every band. (An empty
    array would otherwise fold to the untouched [MAX]*n init — the
    same every-band collision hazard by another route.)

    The fold is one SQL expression string (round 12): the nested-lambda
    Column form cost ~0.08s of py4j per construction (timed rebuild
    region); the parsed tree — and every hash value — is identical
    (exceptAll pin in tests/test_pipeline.py)."""
    return sh.filter(F.size(F.col(shingle_col)) > 0).select(
        F.col(id_col),
        F.expr(
            f"aggregate(`{shingle_col}`, "
            f"array_repeat(CAST({(1 << 63) - 1} AS BIGINT), {num_hashes}), "
            f"(acc, g) -> transform(acc, (a, i) -> least(a, xxhash64(g, i)))"
            f")"
        ).alias("_sig"),
    )


def _banded_keys(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(_id, band, key) rows from a packed signature table: band b's key
    is the xxhash64 of its `rows` consecutive minhashes (element_at over
    the ``_sig`` array). Shared by the batch pair search and the
    materialized incremental index so index and probe always agree.

    The band array is built as ONE SQL expression string parsed JVM-side:
    the Column-API form issued ~200 py4j round trips (16 bands x struct/
    lit/xxhash64/element_at), 0.26s of driver time per construction — and
    the bench's rebuild-path queries construct inside the timed region.
    Same expression tree after parsing: 0.03s, exceptAll-identical."""
    rows = num_hashes // bands
    parts = []
    for b in range(bands):
        args = ", ".join(
            f"element_at(_sig, {b * rows + j + 1})" for j in range(rows)
        )
        parts.append(f"named_struct('band', {b}, 'key', xxhash64({args}))")
    return sig.select(
        "_id", F.explode(F.expr(f"array({', '.join(parts)})")).alias("_bk")
    ).select("_id", "_bk.band", "_bk.key")


def minhash_sketch(
    df: DataFrame, id_col: str, text_col: str, k: int, num_hashes: int
) -> tuple[DataFrame, DataFrame]:
    """(sh, sig): the checkpointed (_id, _s) hashed-shingle table of
    ``df`` and its (_id, _sig) minhash signatures — the one
    shingle/signature derivation behind the batch pair search, the
    on-disk index and its incremental probe, so index, probe and batch
    always agree.

    ``sh`` is materialized once because it feeds the signature AND the
    exact-Jaccard verify (and the index's shingle file): unmaterialized,
    Catalyst would re-run the scan + shingling — the dominant map cost —
    once per consumer."""
    sh = spread(df).select(
        F.col(id_col).alias("_id"),
        hashed_shingles(text_col, k).alias("_s"),
    ).localCheckpoint(eager=True)
    return sh, minhash_signatures(sh, "_id", "_s", num_hashes)


def write_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
) -> None:
    """Materialize the corpus dedup index: the banded LSH keys and the
    hashed shingle sets, as parquet under ``path`` (/bands, /shingles).

    The production mode at 100 TB is INCREMENTAL: the corpus is shingled
    and signed once at index-build time; each new ingest batch then
    dedups against the index (``dedup_against_index``) touching only the
    batch's text — never re-shingling the corpus. Rebuild = one map pass
    + one groupBy; append of an accepted batch = writing its bands and
    shingle rows into the same layout."""
    sh, sig = minhash_sketch(df, id_col, text_col, k, num_hashes)
    _banded_keys(sig, num_hashes, bands).write.mode("overwrite").parquet(
        f"{path}/bands"
    )
    sh.write.mode("overwrite").parquet(f"{path}/shingles")


def dedup_against_index(
    spark,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and a ``write_minhash_index``
    corpus: (new_id, corpus_id, jaccard >= threshold).

    Shuffle is bounded by the batch's bands + band collisions — the
    corpus index streams through a join against the (typically small,
    broadcast) batch side; corpus text is never read, let alone
    re-shingled. Within-batch dups are a separate ``minhash_lsh_pairs``
    call on the batch alone. Same shingle/signature/band derivation as
    the batch path, so incremental results equal the cross-pairs of a
    full recompute (pinned in tests)."""
    new_sh, new_sig = minhash_sketch(new_df, id_col, text_col, k, num_hashes)
    new_bands = _banded_keys(new_sig, num_hashes, bands)
    idx_bands = spark.read.parquet(f"{path}/bands")
    cand = (
        idx_bands.alias("c")
        .join(
            F.broadcast(new_bands.alias("n")),
            (F.col("c.band") == F.col("n.band"))
            & (F.col("c.key") == F.col("n.key")),
        )
        .select(
            F.col("n._id").alias("new_id"), F.col("c._id").alias("corpus_id")
        )
        .dropDuplicates(["new_id", "corpus_id"])
    )
    idx_sh = spark.read.parquet(f"{path}/shingles").select(
        F.col("_id").alias("corpus_id"), F.col("_s").alias("sc")
    )
    pairs = (
        cand.join(idx_sh, "corpus_id")
        .join(
            F.broadcast(
                new_sh.select(
                    F.col("_id").alias("new_id"), F.col("_s").alias("sn")
                )
            ),
            "new_id",
        )
        .select(
            "new_id",
            "corpus_id",
            _jaccard(F.col("sn"), F.col("sc")).alias("jaccard"),
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
) -> DataFrame:
    """Near-dup pairs via MinHash + banded LSH, verified by exact Jaccard.

    With 16 bands x 4 rows the collision curve passes ~0.5; a pair at
    J=0.9 is missed with p < 1e-7, so for thresholds >= 0.8 the verified
    output equals the exact answer in practice (candidates are exactly
    verified — false positives never survive).
    """
    # Hashed shingle sets: the signature and the Jaccard verify both run
    # over int64 arrays (J over the hashed sets == J over the string sets
    # modulo collisions). sh feeds the signature path and BOTH sides of
    # the verify join; sig's checkpoint is tiny (n x num_hashes longs)
    # and stops the banded self-join from folding the signatures twice.
    sh, sig = minhash_sketch(df, id_col, text_col, k, num_hashes)
    sig = sig.localCheckpoint(eager=True)
    banded = _banded_keys(sig, num_hashes, bands)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("da"), F.col("b._id").alias("db"))
        .dropDuplicates(["da", "db"])
    )
    pairs = (
        cand.join(
            sh.select(F.col("_id").alias("da"), F.col("_s").alias("sa")), "da"
        )
        .join(
            sh.select(F.col("_id").alias("db"), F.col("_s").alias("sb")), "db"
        )
        .select(
            "da", "db", _jaccard(F.col("sa"), F.col("sb")).alias("jaccard")
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold)


def _let(expr: Column, fn) -> Column:
    """Bind ``expr`` to a lambda variable so ``fn`` can reference it many
    times with ONE evaluation per row.

    Catalyst's CollapseProject substitutes a projected expression into
    every downstream reference — harmless for cheap columns, quadratic for
    array pipelines (a reference inside a higher-order-function lambda
    re-evaluates the whole producing expression per element; measured
    minutes-vs-seconds on winnowing). A single-element transform is the
    let-binding Catalyst can't inline through: the lambda variable is the
    evaluated value.
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS).

    Char-level k-gram hashes; each sliding window of ``window`` consecutive
    gram hashes contributes its minimum. Guarantee: any exact shared
    substring of length >= window + k - 1 chars (after whitespace/case
    normalization) yields at least one shared fingerprint — the substring-
    level dup detector that whole-document Jaccard misses (a copied
    paragraph inside an otherwise-different doc).

    All JVM expressions in ONE projection, with _let() pinning the
    normalized text and the gram-hash array to a single evaluation each
    (see _let: an unpinned version is O(n²) after CollapseProject inlining).
    Per 300-char doc: one normalize pass, ~300 xxhash64s, ~300x16 long
    compares — map-side, no shuffle. Density is 2/(window+1): each doc
    keeps ~12% of gram hashes as fingerprints.

    ``hash_family="md5"`` swaps the gram hash for the engine-portable
    md5-prefix integer (same spelling in DuckDB — see bloom_decontam),
    making the WHOLE operator oracle-checkable: selection windows, tie
    behavior, df-cutoff, and pair counts included. ~3x the per-gram
    cost; xxhash64 stays the scale default.
    """

    def gram_hash(t, i):
        if hash_family == "md5":
            return F.conv(
                F.substring(F.md5(t.substr(i, F.lit(k))), 1, 15), 16, 10
            ).cast("bigint")
        return F.xxhash64(t.substr(i, F.lit(k)))

    fp = _let(
        normalize_text(F.col(text_col)),
        lambda t: _let(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - (k - 1)),
                lambda i: gram_hash(t, i),
            ),
            lambda h: F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size(h) - (window - 1), F.lit(1)),
                    ),
                    lambda j: F.array_min(F.slice(h, j, window)),
                )
            ),
        ),
    )
    return (
        spread(df)
        .filter(F.length(normalize_text(F.col(text_col))) >= k)
        .select(F.col(id_col).alias("_id"), fp.alias("fingerprints"))
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 16,
    min_shared: int = 1,
    df_cutoff: int | None = 100,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(da, db, n_shared) for docs sharing >= min_shared winnowing
    fingerprints — candidate pairs containing a copied substring of
    length >= window + k - 1 chars.

    Same inverted-index shape as the shingle paths: explode fingerprints,
    equi-join on the 8-byte hash, count per pair. Shuffle is bounded by
    total fingerprints (~2n/(window+1) per doc) — but a fingerprint shared
    by d docs emits d²/2 join rows, so boilerplate substrings (headers,
    license blocks, template phrases) are a QUADRATIC hazard, not just
    skew. ``df_cutoff`` drops fingerprints present in more than that many
    docs before the join (a d-doc boilerplate fingerprint identifies
    near-identical docs only when d is small; past the cutoff it is
    corpus furniture, exactly a stopword). This bounds join fan-out at
    df_cutoff²/2 per fingerprint at any corpus size — without it the
    operator degenerates on templated corpora.
    """
    fp = winnow_fingerprints(df, id_col, text_col, k, window, hash_family)
    ex = fp.select("_id", F.explode("fingerprints").alias("_f"))
    if df_cutoff is not None:
        hot = (
            ex.groupBy("_f")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") > df_cutoff)
        )
        ex = ex.join(F.broadcast(hot.select("_f")), "_f", "left_anti")
    return (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a._f") == F.col("b._f"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("da"), F.col("b._id").alias("db"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def simhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per row: per-bit majority vote of shingle xxhash64 bits.

    Shingles (not bare words) are the feature set — on a small vocabulary
    word-level SimHash collapses (every doc shares most words). Implemented
    as explode -> 64 conditional sums -> bit reassembly; one shuffle on id,
    all JVM expressions.

    ``hash_family="md5"``: md5-prefix integer gram hashes (the portable
    family — bloom_decontam/winnow_fingerprints) so a DuckDB oracle can
    re-derive the votes bit by bit. md5-prefix ints are < 2^60, so bits
    60-63 vote all-negative and stay 0 — a 60-effective-bit signature,
    acceptable for the verification twin; xxhash64 keeps all 64.
    """
    if hash_family == "md5":
        grams = F.transform(
            word_shingles(text_col),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                "bigint"
            ),
        )
    else:
        # hashed_shingles already IS xxhash64 over each gram (same seed
        # as F.xxhash64(string)), so the exploded value is used directly.
        grams = hashed_shingles(text_col)
    ex = spread(df).select(
        F.col(id_col).alias("_id"),
        F.explode(grams).alias("_h"),
    )
    # Single-parse forms (round 13, same rationale as the r12 builders):
    # the Column chains issued ~900 py4j round trips per construction
    # (64 per-bit sums x ~8 calls + a 64-term reassembly chain) — ~1.2s
    # of driver time. One F.expr per vote and one for the reassembly:
    # identical expressions after parsing (same shiftright/&/*2-1 votes,
    # same CASE-per-bit sum; the b=63 weight spells the long-min literal
    # as (-9223372036854775807 - 1) because SQL can't parse long-min
    # directly), exceptAll-pinned in tests/test_pipeline.py.
    votes = ex.groupBy("_id").agg(
        *[
            F.expr(f"sum(((shiftright(_h, {b}) & 1) * 2 - 1))").alias(
                f"v{b}"
            )
            for b in range(64)
        ]
    )
    terms = []
    for b in range(64):
        w = str(2**b) if b < 63 else "(-9223372036854775807 - 1)"
        terms.append(
            f"(CASE WHEN v{b} > 0 THEN CAST(1 AS BIGINT) * {w} "
            f"ELSE 0 END)"
        )
    sig = F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))
    return votes.select("_id", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= max_hamming (<= 3 guaranteed
    findable by 4x16-bit chunk banding via pigeonhole; above 3 the output
    contract is banded-candidates-then-exact-hamming — a pair must share
    at least one 16-bit chunk, which a SQL oracle expresses as a 4-way
    chunk-equality disjunction)."""
    sig = simhash_signature(df, id_col, text_col, hash_family)
    chunks = sig.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("simhash", 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ckey"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("_c"),
    ).select("_id", "simhash", "_c.chunk", "_c.ckey")
    cand = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("da"),
            F.col("a.simhash").alias("ha"),
            F.col("b._id").alias("db"),
            F.col("b.simhash").alias("hb"),
        )
        .dropDuplicates(["da", "db"])
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.select("da", "db", ham.alias("hamming")).filter(
        ham <= max_hamming
    )
