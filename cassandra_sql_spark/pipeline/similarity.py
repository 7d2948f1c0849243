"""Similarity search over embedding columns (north-star extension; absent
from the reference — SURVEY §2.10).

- brute-force cosine top-k: the exact baseline. Dot products via
  zip_with + aggregate (JVM lambdas, sequential fold -> bit-deterministic
  and engine-comparable), query vector inlined as a literal,
  TakeOrderedAndProject for the top-k (no full sort).
- threshold self-join: exact pair search; banded LSH candidates cap it
  at scale.
- random-hyperplane LSH (sign-bit bucketing): deterministic planes derived
  from md5(plane, dim) — no stored model, reproducible on any cluster.
  Buckets partition the space; search probes only the query's bucket
  (optionally multi-probe): candidates per query drop from N to
  N/2^planes on average.
- k-means, IVF, PQ and IVF-PQ on ONE exact-integer model format:
  lloyd_int (coarse quantizer / k-means) and pq_books_int (PQ
  codebooks) train on unit-quantized int64 coordinates, so every
  routing decision — assignment, probe pick, codes, ADC order — is
  int64 arithmetic that DuckDB replays bit-for-bit. Each index kind runs
  inline (the registry entries) or from a persisted parquet index
  (write_* / *_pruned) through the same probe + re-rank body.

Cosines and LSH projections are double precision; a cosine is rounded
through DECIMAL(18,6) and then CAST back to DOUBLE where results cross
the engine boundary: the decimal hop kills last-ulp libm skew, and
shipping DOUBLE (not DECIMAL) means every fetch path renders the value
identically — scaled-decimal strings like `0.450000` vs `0.45` hash
differently in float64-style fetches even when the values are equal.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_sql_spark.literals import sql_ident, sql_literal, values_frame


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def nonzero(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Drop zero-norm vectors: they have no direction, so cosine against
    them is 0/0 (an ANSI divide-by-zero, and NaN-comparison semantics
    differ across engines). Excluding them is the similarity-search
    analog of NULL join keys matching nothing — applied map-side at the
    entry of every cosine path, and mirrored in the DuckDB oracles."""
    return df.filter(dot(F.col(vec_col), F.col(vec_col)) > 0)


def topk_bruteforce(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k vs one stored vector, query inlined as a literal.

    The query vector is a bounded 1-row fetch (same model-sized collect
    policy as the IVF centroids); its norm is a CONSTANT, so both are
    inlined driver-side. The scan then does exactly two array folds per
    corpus row (dot(v,q) and dot(v,v)) instead of three — the broadcast
    join and the per-row recomputation of the query's own norm are gone
    entirely. At 100 TB this is a map-only scan + TakeOrdered(k): the
    model-free case of the ANN probe body (_probe_rerank)."""
    emb = nonzero(emb, vec_col)
    return _probe_rerank(
        emb.filter(F.col(id_col) != query_id),
        _fetch_query(emb, query_id, id_col, vec_col),
        k, id_col, vec_col,
    )


def threshold_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (O(n^2) verify — baseline only;
    use lsh_topk/bucketed candidates at scale)."""
    # Norms are per-vector, so compute them map-side BEFORE the pair join:
    # cosine per pair then costs one 64-dim fold (the dot), not three.
    emb = nonzero(emb, vec_col)
    a = emb.select(
        F.col(id_col).alias("da"),
        F.col(vec_col).alias("va"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("na"),
    )
    b = emb.select(
        F.col(id_col).alias("db"),
        F.col(vec_col).alias("vb"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("nb"),
    )
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        "da",
        "db",
        (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .cast("decimal(18,6)").cast("double")
        .alias("score"),
    )
    return pairs.filter(F.col("score") >= threshold)


def _flits_sql(w: list[float]) -> str:
    """Comma-separated double literals for a driver-side constant
    vector. The CAST-from-repr form constant-folds to the identical
    double Literal (Python repr round-trips exactly; Java parses the same
    nearest double), so a literal array costs one parse, not one py4j
    round trip per element."""
    return ",".join(sql_literal(float(x)) for x in w)


def _dot_lit_sql(vec_sql: str, w: list[float]) -> str:
    """Dot product of the SQL array expression ``vec_sql`` against a
    driver-side constant vector: inlined literal array + zip_with /
    aggregate fold, left to right (the order every oracle replays).

    The one constant-vector dot: LSH hyperplanes, JL projections and the
    PCA power iteration all build on it. The fold runs as an interpreted
    higher-order function, but REJECTED-faster-looking alternative: fully
    unrolling to element_at(i)*w_i multiply-adds blows the codegen method
    budget at 32 planes x 64 dims (2048-node tree) and measured 3.6x
    SLOWER (19.2s vs 5.3s on the banded-LSH pair query at sf0.1) — the
    literal-array fold is the right shape; keep the model constant small
    and let the lambda interpreter stream it."""
    return (
        f"aggregate(zip_with({vec_sql}, array({_flits_sql(w)}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), CAST('0.0' AS DOUBLE), "
        f"(acc, x) -> acc + x)"
    )


def band_buckets_sql(vec_sql: str, bands: int, rows: int) -> str:
    """Array of (band, bucket) structs for banded sign-LSH, as ONE SQL
    expression string (one parse: the Column-API builder issued ~2300
    py4j round trips at 16 bands x 2 rows x 64-dim planes, ~2.3s of
    driver time per construction).

    Band b's bucket is the `rows`-bit signature from hyperplanes
    [b*rows, (b+1)*rows) — deterministic md5-derived planes
    (_plane_weights). Two vectors are candidates iff they share ANY
    band's bucket (OR-of-ANDs amplification, the MinHash-LSH shape);
    band 0 of a one-band call is ``lsh_bucket``."""
    parts = []
    for b in range(bands):
        bucket = "CAST(0 AS BIGINT)"
        for r in range(rows):
            proj = _dot_lit_sql(vec_sql, _plane_weights(b * rows + r))
            bucket += (
                f" + (CASE WHEN {proj} > 0 THEN {2 ** r} ELSE 0 END)"
            )
        parts.append(f"named_struct('band', {b}, 'bucket', {bucket})")
    return f"array({', '.join(parts)})"


def band_buckets(vec_col: str, bands: int, rows: int) -> Column:
    """band_buckets_sql over column ``vec_col``."""
    return F.expr(band_buckets_sql(sql_ident(vec_col), bands, rows))


def threshold_pairs_lsh(
    emb: DataFrame,
    threshold: float,
    bands: int = 16,
    rows: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via banded LSH candidates + exact verify.

    The 100 TB path for ``threshold_pairs``: instead of an O(n^2) cross
    join, explode each vector into `bands` (band, bucket) keys, self-join
    on bucket equality (shuffle bounded by bands*n + candidate pairs, never
    all pairs), dedupe the candidate (da, db) set, then fetch vectors and
    verify exact cosine >= threshold — so every emitted pair is exact.

    Recall: a pair at angle theta collides per plane with p = 1 - theta/pi,
    per band with p^rows, and is missed only with (1 - p^rows)^bands. At
    production near-dup thresholds (cos >= 0.8, p >= 0.8) the defaults give
    miss < 1e-6 with strong pruning. The synthetic fixture corpus has no
    planted dups — its >= 0.45 pairs are the random tail (~3.6 sigma in
    64-dim), where p ~= 0.65; bands=16 x rows=2 still drives per-pair miss
    to (1 - 0.42)^16 ~= 1.6e-4, and the deterministic planes make the
    result reproducible — tests pin recall == 1 vs the exact baseline on
    the fixtures. Pruning is necessarily weak at that near-random
    threshold; on real near-dup corpora the same banding prunes hard.
    """
    # No checkpoint here, deliberately (contrast minhash_lsh_pairs): the
    # self-join's two sides are IDENTICAL subplans, so ReuseExchange
    # already computes the banded projection once — a localCheckpoint of
    # ex/norms measured 17% SLOWER (6.24s vs 5.33s at sf0.1), pure added
    # materialization. Minhash benefits because its shingle table feeds
    # three DIFFERENT projections that no exchange reuse covers.
    emb = nonzero(emb, vec_col)
    ex = emb.select(
        F.col(id_col).alias("_id"),
        F.explode(band_buckets(vec_col, bands, rows)).alias("_bb"),
    )
    cands = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a._bb") == F.col("b._bb"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("da"), F.col("b._id").alias("db"))
        .distinct()
    )
    # Map-side norms (see threshold_pairs): one fold per candidate pair.
    va = emb.select(
        F.col(id_col).alias("da"),
        F.col(vec_col).alias("_va"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("_na"),
    )
    vb = emb.select(
        F.col(id_col).alias("db"),
        F.col(vec_col).alias("_vb"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("_nb"),
    )
    verified = (
        cands.join(va, "da")
        .join(vb, "db")
        .select(
            "da",
            "db",
            (dot(F.col("_va"), F.col("_vb"))
             / (F.col("_na") * F.col("_nb")))
            .cast("decimal(18,6)").cast("double")
            .alias("score"),
        )
    )
    return verified.filter(F.col("score") >= threshold)


def projection_signs(
    in_dim: int, out_dim: int, seed: int = 0
) -> list[list[float]]:
    """Deterministic ±1 projection matrix (Achlioptas-style) derived from
    md5 — reproducible on any engine/cluster, no RNG state. Shared with
    the DuckDB oracle as an inline literal."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{seed}:{j}:{i}".encode()).digest()[0] % 2 == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    emb: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a sign matrix:
    y_j = dot(x, R_j) / sqrt(out_dim).

    The matrix is a driver-side constant inlined into the plan — map-only,
    no shuffle, no model state; at 100 TB this is a pure scan-bandwidth
    operator. Output rounded to 6 decimals (sequential fold on both
    engines makes the raw sums bit-identical; rounding is belt and
    braces)."""
    R = projection_signs(in_dim, out_dim, seed)
    norm = out_dim ** 0.5
    v = sql_ident(vec_col)
    return emb.select(
        F.col(id_col),
        *[
            F.round(F.expr(_dot_lit_sql(v, R[j])) / norm, 6)
            .alias(f"p{j:02d}")
            for j in range(out_dim)
        ],
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = 127/max|x|,
    q_i = floor(x_i * scale + 0.5) (round-half-up, engine-portable).

    The scale is zipped alongside the elements (array_repeat) rather than
    referenced inside the lambda, so the max-abs reduction runs once per
    row, not once per element (higher-order lambdas are interpreted; an
    inlined max would make quantization O(dim^2) per row)."""
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.lit(127.0) / F.greatest(maxabs, F.lit(1e-30))
    zipped = F.arrays_zip(
        F.transform(v, lambda x: x.cast("double")).alias("x"),
        F.array_repeat(scale, F.size(v)).alias("s"),
    )
    q = F.transform(
        zipped, lambda e: F.floor(e["x"] * e["s"] + 0.5).cast("int")
    )
    return emb.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        q.alias("q"),
    )


DIM = 64  # fixture embedding dimensionality (hyperplane tables sized to it)


def _plane_weights(p: int, dim: int = DIM) -> list[float]:
    """Deterministic pseudo-random weights in [-1, 1) for plane p — derived
    from md5 DRIVER-SIDE and inlined as literals. The previous per-row
    derivation (xxhash64 of "plane{p}:{dim}" inside a zip_with lambda)
    evaluated planes x dim string-concat+hashes per row in an interpreted
    higher-order function — measured ~4x the cost of the whole banded-LSH
    pair query at 32 planes x 64 dims. The model is a constant; compute it
    once on the driver like projection_signs/IVF centroids."""
    import hashlib

    out = []
    for d in range(dim):
        h = int.from_bytes(
            hashlib.md5(f"plane{p}:{d}".encode()).digest()[:8], "big"
        )
        out.append((h % 2000 - 1000) / 1000.0)
    return out


def lsh_bucket(vec_col: str, planes: int = 8) -> Column:
    """Sign-bit bucket id of column ``vec_col`` from `planes` random
    hyperplanes: band 0 of a one-band ``band_buckets_sql``."""
    return F.expr(
        f"{band_buckets_sql(sql_ident(vec_col), 1, planes)}[0].bucket"
    )


def _flit_array(w: list[float]) -> Column:
    """A constant double-array column built with ONE F.expr parse
    (``F.array(*[F.lit(x) ...])`` issues one py4j round trip per
    element — ~70 per 64-dim query vector); see _flits_sql."""
    return F.expr(f"array({_flits_sql(w)})")


def quantized_vectors(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    unit: bool = False,
) -> DataFrame:
    """(id, _xq) with _xq = round(x * scale) int64 coords — the shared
    input quantization of the exact-integer family (kmeans_exact and
    the IVF / PQ / IVF-PQ models); zero-norm vectors dropped like every
    cosine path.

    ``unit=True`` re-projects onto the scale-radius sphere:
    uq_i = round(xq_i * scale / sqrt(sum xq^2)). Still bit-exact across
    engines — the norm's radicand is an exact integer (so sqrt, being
    correctly rounded, is identical), xq_i * scale stays under 2^53 (so
    the dividend is exact), and one IEEE division of identical operands
    gives identical quotients. On the unit sphere L2 routing is
    monotone in cosine — the right geometry for cosine-IVF."""
    emb = nonzero(emb, vec_col)
    xq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + 0.5).cast("bigint"),
    )
    base = emb.select(F.col(id_col), xq.alias("_xq"))
    if not unit:
        return base
    # GREATEST(norm, 1): a nonzero integer vector has norm >= 1, so this
    # only fires for vectors that QUANTIZE to zero (denormal magnitudes
    # that pass the float nonzero() filter) — they stay all-zero instead
    # of dividing by zero (ANSI error on Spark, engine-specific on
    # DuckDB); caught by the adversarial embeddings net.
    norm = F.greatest(
        F.sqrt(
            F.aggregate(
                F.transform(F.col("_xq"), lambda a: a * a),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ).cast("double")
        ),
        F.lit(1.0),
    )
    uq = F.transform(
        F.col("_xq"),
        lambda a: F.floor(
            a.cast("double") * scale / norm + 0.5
        ).cast("bigint"),
    )
    return base.select(id_col, uq.alias("_xq"))


def int_assign_sql(cents: list, xq_sql: str = "_xq") -> str:
    """Nearest integer centroid id as ONE parsed SQL expression: the
    argmin of the exact int64 squared Euclidean distance from ``xq_sql``
    to each centroid, ties to the lowest id (array_position's first
    match). The Column-API form it replaced stays in
    tests/test_similarity_multi.py as the independent reference it is
    exceptAll-pinned against.

    Round 13 (r12 verdict #3), two changes, values identical:

    1. the k-distance array and the input vector are lambda-BOUND, each
       evaluated ONCE per row — the previous form textually duplicated
       the distance array inside
       array_position(array(D), array_min(array(D))) (every centroid
       distance computed twice per row) and inlined ``xq_sql`` into
       every distance term, so a PQ slice() was re-materialized k times
       per row;
    2. the centroids ship as ONE array-of-arrays literal looped by a
       higher-order transform instead of k unrolled aggregate() calls —
       the k*dim-literal unrolled tree was far past codegen's size
       limits anyway (interpreted either way), and shrinking the
       expression ~k-fold cuts the per-iteration parse/analyze/plan
       cost that dominates these training loops once the data is small
       relative to the plan (interleaved A/B: a further 1.17-1.20x on
       emb_kmeans/sim_pq/sim_ivfpq on top of change 1's 1.2-1.6x)."""
    rows = ",".join(
        "array(" + ",".join(str(int(v)) for v in c) + ")" for c in cents
    )
    return (
        f"element_at(transform(array({xq_sql}), v -> "
        f"element_at(transform(array(transform(array({rows}), c -> "
        f"aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)), 0L, "
        f"(acc, t) -> acc + t))), d -> "
        f"CAST(array_position(d, array_min(d)) - 1 AS INT)), 1)), 1)"
    )


def pq_codes_sql(books: list) -> str:
    """The PQ code array of an _xq row as ONE parsed expression: element
    s is the int_assign_sql argmin of slice s over codebook s. The
    subspace width is read off the model (a codeword's length), so the
    codes always cover exactly the coordinates the books were trained
    on."""
    subdim = len(books[0][0])
    return "array(" + ", ".join(
        int_assign_sql(book, f"slice(_xq, {s * subdim + 1}, {subdim})")
        for s, book in enumerate(books)
    ) + ")"


def _adc_sql(books: list, qq: list) -> str:
    """The ADC shortlist distance of a row's _codes: per subspace, a
    lookup into the query's exact int64 distance table to every codeword
    (m x k_codes BIGINT literals, computed driver-side from the query's
    unit-quantized coordinates), summed over the subspaces."""
    subdim = len(books[0][0])
    terms = []
    for s, book in enumerate(books):
        qs = qq[s * subdim:(s + 1) * subdim]
        tbl = ",".join(
            f"{sum((a - b) * (a - b) for a, b in zip(qs, cw))}L"
            for cw in book
        )
        terms.append(f"element_at(array({tbl}), _codes[{s}] + 1)")
    return " + ".join(terms)


def seed_rows(base: DataFrame, n: int, id_col: str = "vec_id") -> list:
    """The n smallest (md5(id), id) rows' _xq coordinate lists — the
    shared Lloyd seeding. The ordering depends only on the id, never on
    the coordinates, so one fetch of max(k) rows serves every consumer
    (coarse quantizer AND all m subspace codebooks slice the same rows;
    a smaller k's seeds are a prefix). Round 12: the composed IVF+PQ
    path previously paid 5 separate seed collects per query."""
    return [
        list(r["_xq"])
        for r in base.withColumn(
            "_h", F.md5(F.col(id_col).cast("string"))
        )
        .orderBy("_h", id_col)
        .limit(n)
        .collect()
    ]


def lloyd_int(
    base: DataFrame,
    n_clusters: int,
    iters: int,
    id_col: str = "vec_id",
    seeds: list | None = None,
) -> list:
    """The exact-integer Lloyd loop over an already-quantized
    (id, _xq int64 list) frame — the one k-means trainer: kmeans_exact's
    clusters and the IVF / IVF-PQ coarse quantizer (pq_books_int runs
    the same loop per subspace slice). Seeds are the n_clusters smallest
    (md5(id), id) rows' coordinates (``seeds`` passes them pre-fetched —
    see seed_rows)."""
    cents = (
        [list(c) for c in seeds[:n_clusters]]
        if seeds is not None
        else seed_rows(base, n_clusters, id_col)
    )
    if not cents:
        return []
    dim = len(cents[0])
    for _ in range(iters):
        # The assignment is lambda-BOUND, not a sibling projection of the
        # generator: an expression beside explode() is re-evaluated per
        # OUTPUT row (dim times per vector — ~150M interpreted ops per
        # iteration at 5k x 64 x k=8; measured ~4s/iter, round 12), while
        # the bound form computes the k*dim-literal argmin once per INPUT
        # row. Single-parse SQL string for the same reason as the dedup
        # builders. Values are unchanged: same (cid, pos) sum/count grid.
        assign = int_assign_sql(cents)
        bound = F.expr(
            f"transform(array({assign}), c -> "
            f"transform(_xq, (x, i) -> struct(c AS _cid, i AS pos, "
            f"x AS col)))[0]"
        )
        stats = (
            base.select(F.explode(bound).alias("_e"))
            .groupBy(
                F.col("_e._cid").alias("_cid"), F.col("_e.pos").alias("pos")
            )
            .agg(F.sum("_e.col").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # k*dim rows: bounded model fetch
        )
        by: dict[int, list] = {}
        for r in stats:
            by.setdefault(r["_cid"], [None] * dim)[r["pos"]] = (r["s"], r["n"])
        # Python // IS floor division: identical to the oracle's
        # (a - pmod(a, b)) / b spelling. Empty clusters keep their
        # previous centroid.
        cents = [
            [(2 * s + n) // (2 * n) for (s, n) in by[i]] if i in by else old
            for i, old in enumerate(cents)
        ]
    return cents


def pq_books_int(
    quant: DataFrame,
    m: int,
    k_codes: int,
    iters: int,
    id_col: str = "vec_id",
    seeds: list | None = None,
) -> list:
    """All m per-subspace exact-integer codebooks, trained with ONE
    distributed job per Lloyd iteration instead of m independent loops
    (round 12, guide §1.2 step 1: the per-subspace form ran m seed
    collects + m*iters serial stat jobs — 12 driver round trips for the
    PQ defaults — each replanning and rescanning its input; this form
    runs 1 + iters jobs over the same frame).

    The dimensionality comes from the seed rows, so every codebook
    covers dim // m coordinates of the data actually passed (m is capped
    at dim). Bit-identical to ``lloyd_int`` per slice (pinned in
    tests/test_similarity_multi.py): seeds are the same (md5(id), id)
    rows sliced per subspace, each iteration assigns with the same
    int_assign_sql argmin over the slice, and the (subspace, cid, pos)
    sum/count grid — collected as one m*k*subdim bounded fetch — feeds
    the same floor-division centroid update. Returns [] for an empty
    corpus."""
    if seeds is None:
        seeds = seed_rows(quant, k_codes, id_col)
    if not seeds:
        return []
    dim = len(seeds[0])
    m = min(m, dim)
    subdim = dim // m
    # coordinates past m * subdim (dim not a multiple of m) belong to no
    # subspace and stay out of the training grid
    xs = "_xq" if m * subdim == dim else f"slice(_xq, 1, {m * subdim})"
    books = [
        [list(row[s * subdim: (s + 1) * subdim]) for row in seeds[:k_codes]]
        for s in range(m)
    ]
    for _ in range(iters):
        # element s of _cids = this row's nearest codeword in subspace s.
        # The _cids array is lambda-BOUND so the m k-codeword argmins run
        # once per INPUT row — as a sibling projection of the generator
        # they would re-run per OUTPUT row, dim times per vector (the
        # explode-duplication hazard documented in pipeline/dedup.py;
        # measured ~11s/iter vs <1s at sf0.01). Single-parse SQL string.
        bound = F.expr(
            f"transform(array({pq_codes_sql(books)}), c -> "
            f"transform({xs}, (x, i) -> struct("
            f"CAST(i / {subdim} AS INT) AS _s, "
            f"c[CAST(i / {subdim} AS INT)] AS _cid, "
            f"i % {subdim} AS _p, x AS col)))[0]"
        )
        stats = (
            quant.select(F.explode(bound).alias("_e"))
            .groupBy(
                F.col("_e._s").alias("_s"),
                F.col("_e._cid").alias("_cid"),
                F.col("_e._p").alias("_p"),
            )
            .agg(F.sum("_e.col").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # m*k*subdim rows: bounded model fetch
        )
        by: dict[tuple, list] = {}
        for r in stats:
            by.setdefault((r["_s"], r["_cid"]), [None] * subdim)[r["_p"]] = (
                r["s"],
                r["n"],
            )
        books = [
            [
                [(2 * s_ + n_) // (2 * n_) for (s_, n_) in by[(s, i)]]
                if (s, i) in by
                else old
                for i, old in enumerate(books[s])
            ]
            for s in range(m)
        ]
    return books


def kmeans_exact(
    emb: DataFrame,
    n_clusters: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Lloyd k-means in EXACT integer arithmetic (lloyd_int — the same
    trainer as the IVF coarse quantizer, here on the raw rather than
    the unit-projected quantized vectors) with relabelled cluster keys,
    oracle-checkable end to end.

    Every quantity either engine computes is an int64:
    - vectors quantize once to round(x * scale) (map-side, same FLOOR
      formula both engines);
    - assignment is argmin of the integer squared Euclidean distance
      (<= 64 * (4e6)^2 ~ 1e15, well inside int64), ties to the lowest
      cluster id;
    - the centroid update is round-half-up of the exact rational mean,
      floor((2*sum + n) / (2*n)), via true floor division — so centroids
      stay int64 coordinates and no float ever enters the loop;
    - seeds are the n_clusters smallest (md5(id), id) — the portable
      hash family.
    Distributed cost per iteration: one map-only assignment scan plus a
    (k x dim)-row exact integer shuffle; driver state is k*dim ints.
    A DuckDB oracle replays the whole loop bit-for-bit (the unrolled
    CTE chain in queries/pipeline_r6._KMEANS_ORACLE).
    """
    # One quantization pass materialized once (round 12): the previous
    # form built the quantized frame TWICE (assignment + training) and
    # every Lloyd iteration replanned a fresh scan+quantize — iters+2
    # parquet scans for a frame that is id + 64 int64s. localCheckpoint
    # keeps every training/assignment job on the materialized rows;
    # recomputed per invocation, never across runs.
    base = quantized_vectors(emb, id_col, vec_col, scale).localCheckpoint(
        eager=True
    )
    cents = lloyd_int(base, n_clusters, iters, id_col)
    if not cents:
        return base.select(
            id_col, F.lit(None).cast("long").alias("cluster_key")
        ).limit(0)
    # assigned feeds BOTH the relabel aggregate and the join; without
    # materialization the k*dim-literal argmin scan runs twice (no common
    # subplan reuse across an agg and its consumer). Tiny frame: two ints
    # per vector.
    assigned = base.select(
        id_col, F.expr(int_assign_sql(cents)).alias("_cid")
    ).localCheckpoint(eager=True)
    relabel = assigned.groupBy("_cid").agg(F.min(id_col).alias("cluster_key"))
    return (
        assigned.join(F.broadcast(relabel), "_cid")
        .select(
            id_col, F.col("cluster_key").cast("long").alias("cluster_key")
        )
        .orderBy(id_col)
    )


# ---------------------------------------------------------------------------
# IVF / PQ / IVF-PQ approximate top-k on ONE model format: the coarse
# quantizer is lloyd_int and the PQ codebooks are pq_books_int, both
# trained on the unit-quantized grid (quantized_vectors unit=True — on
# the sphere L2 routing is monotone in cosine), so every routing
# decision is int64 arithmetic and replays bit-for-bit in DuckDB.
#
# Each index kind has two forms that share one probe + re-rank body
# (_probe_rerank) and differ only in where their routing columns come
# from:
# - inline (topk_ivf_exact, pq_topk_exact, topk_ivfpq_exact — the
#   oracle-checked registry entries): _cid and _codes are map-side
#   expressions over the checkpointed quantized frame;
# - at rest (write_* once, then *_pruned per query — the index a
#   session's top-k queries reuse): the same columns are stored in a
#   parquet index, hive-partitioned by _cid, so the probe's literal _cid
#   IN-list prunes directories and the ADC scan never reads the vector
#   column. For the same model and parameters a pruned probe returns
#   exactly the inline form's rows plus the query row itself.
# ---------------------------------------------------------------------------


def _unit_quant(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The unit-quantized (id, _xq) frame, materialized once: training,
    the routing columns and the index write all read it (round 12 — was
    one scan+quantize plan per Lloyd iteration plus one per consumer).
    localCheckpoint is recomputed per invocation, never across runs."""
    return quantized_vectors(emb, id_col, vec_col, unit=True).localCheckpoint(
        eager=True
    )


def _with_routing(
    quant: DataFrame, cents: list | None = None, books: list | None = None
) -> DataFrame:
    """``quant`` plus the index's routing columns, both pure map-side
    expressions over _xq: _cid (coarse list id) when there is a coarse
    quantizer, _codes (PQ code array) when there are codebooks."""
    if cents:
        quant = quant.withColumn("_cid", F.expr(int_assign_sql(cents)))
    if books:
        quant = quant.withColumn("_codes", F.expr(pq_codes_sql(books)))
    return quant


def _train_ivfpq(
    quant: DataFrame,
    n_centroids: int,
    m: int,
    k_codes: int,
    iters_coarse: int,
    iters_pq: int,
    id_col: str,
) -> tuple:
    """(centroids, codebooks) over one quantized frame from ONE seed fetch
    (coarse seeds are a prefix of the codebook seeds — see seed_rows).

    Round 13 (guide §2.6 overlap independent jobs): the coarse Lloyd and
    the PQ codebook training are INDEPENDENT given the shared seeds and
    the materialized frame — each is a serial chain of (one distributed
    job + one bounded model collect) per iteration, so running them from
    two driver threads overlaps one chain's barrier with the other's
    compute and the wall-clock is max(coarse, pq) instead of their sum.
    Results are bit-identical: each thread's jobs are sequential within
    itself and the trainings share no mutable state."""
    seeds = seed_rows(quant, max(n_centroids, k_codes), id_col)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cents = pool.submit(
            lloyd_int, quant, n_centroids, iters_coarse, id_col, seeds
        )
        f_books = pool.submit(
            pq_books_int, quant, m, k_codes, iters_pq, id_col, seeds
        )
        return f_cents.result(), f_books.result()


def _fetch_query(
    emb: DataFrame, query_id: int, id_col: str, vec_col: str
) -> list | None:
    """The query's raw coordinates: a bounded 1-row fetch (None when the
    id is absent)."""
    row = emb.filter(F.col(id_col) == query_id).select(vec_col).first()
    return None if row is None else row[0]


def _probe_rerank(
    src: DataFrame,
    qv: list | None,
    k: int,
    id_col: str,
    vec_col: str,
    vectors: DataFrame | None = None,
    cents: list | None = None,
    nprobe: int = 4,
    books: list | None = None,
    shortlist: int = 50,
) -> DataFrame:
    """The one probe + re-rank body of every cosine top-k path.

    ``src`` carries id_col plus the routing columns of the index kind
    (_cid with ``cents``, _codes with ``books``) and, when ``vectors``
    is None, the vector column too; otherwise the re-rank reads
    ``vectors`` (id, vector). No model at all is the exact scan.

    - the query's unit-quantized coordinates come from the SAME
      quantized_vectors(unit=True) expression as the corpus rows, on a
      one-row frame, so the probe pick and the ADC tables see exactly
      the grid the index was routed on;
    - IVF: the ``nprobe`` centroids nearest those coordinates (integer
      L2, ties to the lowest id) become a literal _cid IN-list — a
      PartitionFilter on the at-rest index;
    - PQ: the query's per-subspace distance tables turn each row's codes
      into an integer ADC distance; the ``shortlist`` smallest (ties by
      id) survive, and only they read their vectors (broadcast join);
    - the survivors' exact cosine to ``qv``, DECIMAL(18,6)-hopped (kills
      last-ulp libm skew), ranked descending with ties by id.

    A missing or zero-norm query, or an empty model, gives an empty
    result."""
    empty = src.select(id_col, F.lit(0.0).alias("score")).limit(0)
    qv = [float(x) for x in qv] if qv is not None else []
    qnorm = math.sqrt(sum(x * x for x in qv))
    if qnorm == 0.0 or cents == [] or books == []:
        return empty
    if cents is not None or books is not None:
        one = values_frame(
            src.sparkSession, [(0, qv)], "_id bigint, _v array<double>"
        )
        qq = quantized_vectors(one, "_id", "_v", unit=True).first()["_xq"]
    if cents is not None:
        probe = sorted(
            range(len(cents)),
            key=lambda c: (
                sum((a - b) * (a - b) for a, b in zip(qq, cents[c])), c
            ),
        )[:nprobe]
        src = src.filter(F.col("_cid").isin(probe))
    if vectors is None:
        vectors = src
    if books is not None:
        short = (
            src.select(id_col, F.expr(_adc_sql(books, qq)).alias("_adc"))
            .orderBy(F.col("_adc").asc(), F.col(id_col))
            .limit(shortlist)
            .select(id_col)
        )
        rows = vectors.join(F.broadcast(short), id_col)
    elif vectors is src:
        rows = src
    else:
        rows = src.join(vectors, id_col)
    score = (
        dot(F.col(vec_col), _flit_array(qv))
        / (F.sqrt(dot(F.col(vec_col), F.col(vec_col))) * F.lit(qnorm))
    ).cast("decimal(18,6)").cast("double")
    return (
        rows.select(id_col, score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def topk_ivf_exact(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L2-IVF approximate top-k with the exact-integer coarse quantizer
    (FAISS IndexIVFFlat shape): lloyd_int centroids trained on
    UNIT-quantized vectors, integer-L2 list assignment and probe
    selection, exact cosine re-score of the probed lists only. Because
    every routing decision is int64 arithmetic (and the unit projection
    is itself bit-exact cross-engine), the WHOLE pipeline — training
    included — replays in DuckDB (the oracle extends the k-means CTE
    chain with probe + scoring); the cosine scores take the usual
    DECIMAL(18,6) hop. Scan cost: nprobe/n_centroids of the corpus; at
    rest the lists are pruned partitions (write_ivf_partitioned /
    topk_ivf_pruned, same model, same rows)."""
    quant = _unit_quant(emb, id_col, vec_col)
    cents = lloyd_int(quant, n_centroids, iters, id_col)
    return _probe_rerank(
        _with_routing(quant, cents).filter(F.col(id_col) != query_id),
        _fetch_query(emb, query_id, id_col, vec_col),
        k, id_col, vec_col,
        vectors=emb.select(id_col, vec_col), cents=cents, nprobe=nprobe,
    )


def pq_topk_exact(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    shortlist: int = 100,
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jegou/Douze/Schmid, PAMI 2011) in exact
    integer arithmetic: each of the m subspaces (dim // m coordinates of
    the data) trains its own k_codes-codeword codebook via the exact-int
    Lloyd on unit-quantized subvector slices, codes are integer-L2
    argmins, and the ADC shortlist distance is a sum of m precomputed
    integer table lookups — so codebooks, codes, shortlist membership,
    and shortlist order are all engine-portable, and the final exact
    cosine re-rank takes the usual DECIMAL hop. The scored scan reads m
    small codes per row instead of the vector; only the ``shortlist``
    survivors read their full vectors. At rest: write_pq_index /
    pq_topk_pruned."""
    # Materialized once + merged per-iteration training (round 12): the
    # m independent Lloyd loops were m seed collects + m*iters serial
    # stat jobs, each rescanning parquet; pq_books_int runs 1 + iters
    # jobs over the checkpointed frame, bit-identical per slice.
    quant = _unit_quant(emb, id_col, vec_col)
    books = pq_books_int(quant, m, k_codes, iters, id_col)
    return _probe_rerank(
        _with_routing(quant, books=books).filter(F.col(id_col) != query_id),
        _fetch_query(emb, query_id, id_col, vec_col),
        k, id_col, vec_col,
        vectors=emb.select(id_col, vec_col), books=books,
        shortlist=shortlist,
    )


def topk_ivfpq_exact(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    shortlist: int = 50,
    m: int = 4,
    k_codes: int = 16,
    iters_coarse: int = 3,
    iters_pq: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ COMPOSED (the FAISS IVFPQ query shape, r12): coarse
    integer-L2 routing prunes to the ``nprobe`` nearest lists, the
    integer ADC shortlist ranks ONLY those lists' rows by summed
    codebook lookups, and the exact cosine re-rank reads full vectors
    for the ``shortlist`` survivors alone. The two prunings MULTIPLY:
    nprobe/n_centroids of the rows x m-codes-instead-of-vector bytes,
    with the partitioned at-rest form in write_ivfpq_index /
    topk_ivfpq_pruned.

    Every routing decision (coarse assignment, probe pick, codebooks,
    codes, ADC order with vec_id ties) is exact int64 arithmetic on the
    unit-quantized grid, so the WHOLE pipeline — both trainings
    included — replays in DuckDB; only the final cosine takes the
    DECIMAL(18,6) hop. Models are k*d-sized driver fetches.

    Round 12 (guide §1.2 step 1): this path ran ~19 serial
    driver-blocking jobs (5 seed collects, 3 coarse + 4*2 subspace stat
    jobs, 2 first() fetches), each replanning a fresh parquet scan +
    quantize; now one materialized frame, one seed fetch and one merged
    job per PQ iteration (28-50s -> ~8s at sf0.01, bit-identical)."""
    quant = _unit_quant(emb, id_col, vec_col)
    cents, books = _train_ivfpq(
        quant, n_centroids, m, k_codes, iters_coarse, iters_pq, id_col
    )
    return _probe_rerank(
        _with_routing(quant, cents, books).filter(
            F.col(id_col) != query_id
        ),
        _fetch_query(emb, query_id, id_col, vec_col),
        k, id_col, vec_col,
        vectors=emb.select(id_col, vec_col), cents=cents, nprobe=nprobe,
        books=books, shortlist=shortlist,
    )


def _write_index(
    quant: DataFrame,
    emb: DataFrame,
    path: str,
    id_col: str,
    cents: list | None = None,
    books: list | None = None,
) -> None:
    """Write the corpus rows (zero-norm vectors dropped, like every cosine
    path) with their routing columns as one parquet index,
    hive-partitioned by _cid when there is a coarse quantizer. _codes
    sits beside the raw vector so the ADC scan is column-pruned to the
    codes while the re-rank reads vectors for the shortlist only."""
    rows = _with_routing(quant, cents, books).join(emb, id_col).drop("_xq")
    writer = rows.write.mode("overwrite")
    (writer.partitionBy("_cid") if cents else writer).parquet(path)


def write_ivf_partitioned(
    emb: DataFrame,
    path: str,
    n_centroids: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Materialize the IVF index: train the lloyd_int coarse quantizer on
    the unit-quantized corpus, hive-partition the rows by _cid. Returns
    the integer centroids (k*d ints — the caller keeps them beside the
    data; training is deterministic, so a rebuild reproduces them
    bit-for-bit). The defaults match topk_ivf_exact's."""
    quant = _unit_quant(emb, id_col, vec_col)
    cents = lloyd_int(quant, n_centroids, iters, id_col)
    _write_index(quant, emb, path, id_col, cents=cents)
    return cents


def topk_ivf_pruned(
    spark,
    path: str,
    centroids: list,
    query_vec: list,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a write_ivf_partitioned index: the nprobe nearest lists
    become a literal _cid IN-list (Catalyst prunes to those directories)
    and only their rows are cosine-scored — topk_ivf_exact's answer for
    the same model, plus the query row if it is in the corpus."""
    return _probe_rerank(
        spark.read.parquet(path), query_vec, k, id_col, vec_col,
        cents=centroids, nprobe=nprobe,
    )


def write_pq_index(
    emb: DataFrame,
    path: str,
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Materialize the PQ index: train the pq_books_int codebooks (dim //
    m coordinates per subspace, dim read off the data), write (row,
    _codes) as one parquet table. Returns the integer codebooks."""
    quant = _unit_quant(emb, id_col, vec_col)
    books = pq_books_int(quant, m, k_codes, iters, id_col)
    _write_index(quant, emb, path, id_col, books=books)
    return books


def pq_topk_pruned(
    spark,
    path: str,
    codebooks: list,
    query_vec: list,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a write_pq_index table. The ADC scan reads ONLY (id, _codes)
    — parquet column pruning keeps the vector column on disk, ~1/50 of
    the bytes at 64 dims — and the re-rank reads vectors for the
    broadcast shortlist alone. pq_topk_exact's answer for the same
    model, plus the query row if it is in the corpus: its codes are its
    own nearest codewords, so no row has a smaller ADC distance and it
    takes the first shortlist slot (ties by id)."""
    return _probe_rerank(
        spark.read.parquet(path), query_vec, k, id_col, vec_col,
        books=codebooks, shortlist=shortlist,
    )


def write_ivfpq_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple:
    """IVF-PQ composite index (the FAISS IVFPQ shape): rows are
    hive-partitioned by coarse list AND carry their PQ codes beside the
    raw vector, so a probe opens only the ``nprobe`` nearest partitions
    and scans only the codes inside them: nprobe/k x ~1/50 of the corpus
    bytes. ``iters`` drives both trainings. Returns (centroids,
    codebooks), the models topk_ivfpq_exact trains with
    iters_coarse = iters_pq = iters."""
    quant = _unit_quant(emb, id_col, vec_col)
    cents, books = _train_ivfpq(
        quant, n_centroids, m, k_codes, iters, iters, id_col
    )
    _write_index(quant, emb, path, id_col, cents=cents, books=books)
    return cents, books


def topk_ivfpq_pruned(
    spark,
    path: str,
    centroids: list,
    codebooks: list,
    query_vec: list,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a write_ivfpq_index table: literal _cid IN-list (pruned to
    nprobe directories), ADC over the codes column only, exact cosine
    re-rank of the broadcast shortlist (the only read of the vector
    column)."""
    return _probe_rerank(
        spark.read.parquet(path), query_vec, k, id_col, vec_col,
        cents=centroids, nprobe=nprobe, books=codebooks, shortlist=shortlist,
    )


def write_lsh_partitioned(
    emb: DataFrame,
    path: str,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the embedding corpus hive-partitioned by LSH bucket —
    the ANN index build step for the 100 TB layout.

    Each of the 2^planes buckets becomes a partition directory; a probe
    then reads ONLY the query's bucket via partition pruning (asserted in
    tests/test_plans.py: the scan's partition filters carry _bucket and
    the other partitions are never listed). Bucket assignment is the same
    deterministic hyperplane expression as lsh_bucket, so index and query
    always agree; rebuilding is a map-only full scan."""
    emb.withColumn("_bucket", lsh_bucket(vec_col, planes)).write.mode(
        "overwrite"
    ).partitionBy("_bucket").parquet(path)


def topk_lsh_pruned(
    spark,
    path: str,
    query_vec: list,
    k: int = 10,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a write_lsh_partitioned index: compute the query's bucket
    driver-side (constant fold of the same plane expression), filter the
    partition column with a LITERAL so Catalyst prunes to one directory,
    then exact-score only that bucket."""
    qdf = values_frame(
        spark, [([float(x) for x in query_vec],)],
        f"{sql_ident(vec_col)} array<double>",
    )
    qbucket = qdf.select(lsh_bucket(vec_col, planes).alias("b")).first()["b"]
    bucketed = nonzero(
        spark.read.parquet(path).filter(F.col("_bucket") == qbucket),
        vec_col,
    )
    qarr = _flit_array(query_vec)
    scored = bucketed.select(
        id_col,
        cosine(F.col(vec_col), qarr).cast("decimal(18,6)").cast("double").alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def _lsh_scored(
    emb: DataFrame,
    query_id: int,
    planes: int,
    multiprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, score) for every vector in the query's LSH bucket or one of
    the buckets at Hamming distance 1 from it (flip each of the first
    ``multiprobe`` sign bits), the query row excluded: the query's bucket
    probes broadcast-join against the bucketed corpus and the cosine
    takes the DECIMAL(18,6) hop. The candidate stage of topk_lsh and
    range_search_lsh."""
    bucketed = emb.withColumn("_bucket", lsh_bucket(vec_col, planes))
    probes = F.array(
        F.col("_bucket"),
        *[
            F.col("_bucket").bitwiseXOR(F.lit(2**p))
            for p in range(min(multiprobe, planes))
        ],
    )
    bucketed = nonzero(bucketed, vec_col)
    q = bucketed.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qv"), probes.alias("_qbs")
    )
    cands = bucketed.join(
        F.broadcast(q), F.array_contains(F.col("_qbs"), F.col("_bucket"))
    ).filter(F.col(id_col) != query_id)
    return cands.select(
        id_col,
        cosine(F.col(vec_col), F.col("_qv"))
        .cast("decimal(18,6)").cast("double")
        .alias("score"),
    )


def topk_lsh(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    ``multiprobe > 0`` additionally probes the buckets at Hamming
    distance 1 from the query's (flip each of the first `multiprobe` sign
    bits) — the standard recall/cost knob: a near neighbor that landed
    just across one hyperplane is recovered for (multiprobe+1)/2^planes
    of the data scanned instead of a full pass.

    At 100 TB the bucketed table is written partitioned by bucket
    (write_lsh_partitioned) so each probed bucket is a pruned
    single-partition scan — multiprobe turns into an IN-list partition
    filter, still never a full pass.
    """
    return (
        _lsh_scored(emb, query_id, planes, multiprobe, id_col, vec_col)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def range_search_lsh(
    emb: DataFrame,
    query_id: int,
    threshold: float = 0.4,
    planes: int = 4,
    multiprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Threshold (range) similarity search: every vector with cosine >=
    threshold against the query, scanning only the query's LSH bucket
    plus `multiprobe` Hamming-1 neighbors — the radius-query complement
    of topk_lsh (same bucketing, same pruning, no k cut). The filter
    applies to the DECIMAL(18,6)-hopped score so the >= boundary is
    engine-exact. At rest the probe is a pruned partition IN-list
    (write_lsh_partitioned), identical to the top-k path."""
    return (
        _lsh_scored(emb, query_id, planes, multiprobe, id_col, vec_col)
        .filter(F.col("score") >= threshold)
        .orderBy(F.col("score").desc(), F.col(id_col))
    )


def pca_top_component(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 24,
) -> DataFrame:
    """Top principal direction of the (centered) embedding cloud via
    distributed power iteration — the dominant eigenvector of X'X
    without ever materializing the covariance matrix.

    Per iteration, ONE corpus scan computes y = sum_i <x_i - mu, v>
    (x_i - mu): the projection w_i is a per-row literal-vector fold
    (`_dot_lit_sql`), and the per-dimension partial sums travel as
    exact scaled integers (FLOOR(t*1e6 + 0.5) per term), so the shuffle
    carries d rows per partition and the result is bit-identical under
    any partitioning. The d-vector y is collected (model-sized, like
    the IVF centroids), normalized driver-side, quantized to 9dp, and
    sign-fixed (first nonzero component positive) so the iterate — and
    therefore the output — is fully deterministic. Cost at 100 TB:
    iters scans, each map-only + a |dims|-row shuffle; no state beyond
    the d-vector.

    Returns (pos, component) rows, pos 0-based.

    Convergence: the direction error shrinks as (l2/l1)^k, but the
    captured VARIANCE (Rayleigh quotient) shrinks as the square — on a
    near-degenerate spectrum (the synthetic fixture has l2/l1 = 0.93)
    24 iterations put the Rayleigh quotient within 1% of l1 even
    where the specific eigenvector is still rotating inside the
    near-tied top subspace; the variance-capture guarantee is the
    meaningful one there (pinned in tests/test_r6b_ops.py).
    """
    import hashlib

    n = emb.count()
    ex = emb.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
    mu_rows = (
        ex.groupBy("pos")
        .agg(
            (
                F.sum(
                    F.floor(F.col("x").cast("double") * 1000000 + 0.5)
                    .cast("bigint")
                ).cast("double")
                / 1000000
                / n
            ).alias("m")
        )
        .collect()
    )
    mu = [0.0] * len(mu_rows)
    for r in mu_rows:
        mu[r.pos] = round(r.m, 9)
    d = len(mu)

    # deterministic seed direction from md5 (same trick as the LSH
    # plane weights), normalized
    def _seed(i: int) -> float:
        h = hashlib.md5(f"pca:{i}".encode()).hexdigest()
        return int(h[:12], 16) / float(16**12) - 0.5

    v = [_seed(i) for i in range(d)]

    def _norm(vec: list[float]) -> list[float]:
        s = sum(t * t for t in vec) ** 0.5
        if s == 0.0:
            return vec
        out = [round(t / s, 9) for t in vec]
        for t in out:
            if t != 0.0:
                return out if t > 0 else [-u for u in out]
        return out

    v = _norm(v)
    centered = (
        f"zip_with({sql_ident(vec_col)}, array({_flits_sql(mu)}), "
        f"(x, m) -> CAST(x AS DOUBLE) - m)"
    )
    for _ in range(iters):
        y_rows = (
            emb.select(
                F.expr(_dot_lit_sql(centered, v)).alias("_w"),
                F.expr(centered).alias("_c"),
            )
            .select("_w", F.posexplode(F.col("_c")).alias("pos", "x"))
            .groupBy("pos")
            .agg(
                F.sum(
                    F.floor(F.col("_w") * F.col("x") * 1000000 + 0.5)
                    .cast("bigint")
                ).alias("s6")
            )
            .collect()
        )
        y = [0.0] * d
        for r in y_rows:
            y[r.pos] = r.s6 / 1000000.0
        v = _norm(y)

    spark = emb.sparkSession
    return values_frame(
        spark, [(i, v[i]) for i in range(d)], "pos INT, component DOUBLE"
    )
