"""Identity pins for the exact-integer ANN models and their expressions.

The round-12/13 optimizations (one materialized quantized frame, one
shared seed fetch, merged per-iteration multi-subspace training,
single-parse SQL assignment/ADC expressions, lambda-bound assignment
beside the explode) must be invisible in the values: every centroid,
codeword and argmin is the same int64 arithmetic over the same rows.
The PQ models take their dimensionality from the data, and the LSH
planes' float sign folds are pinned against exact rational signs.
"""

from fractions import Fraction

import pytest

from pyspark.sql import Column
from pyspark.sql import functions as F

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline import similarity


def int_sq_dist(c: list, xq: Column | None = None) -> Column:
    """Column-API reference: integer squared Euclidean distance from the
    _xq column (or an explicit vector column) to an integer centroid."""
    arr = F.array(*[F.lit(int(v)) for v in c])
    if xq is None:
        xq = F.col("_xq")
    return F.aggregate(
        F.zip_with(xq, arr, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def int_assign_col(cents: list, xq: Column | None = None) -> Column:
    """Column-API reference for similarity.int_assign_sql: nearest
    integer centroid id, ties to the lowest id (first min)."""
    dists = F.array(*[int_sq_dist(c, xq) for c in cents])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _quant(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return similarity.quantized_vectors(emb, unit=True).localCheckpoint(
        eager=True
    )


def test_pq_books_int_matches_per_subspace_lloyd(spark, sf_dir):
    """The merged one-job-per-iteration trainer returns exactly the
    books the m independent lloyd_int loops produced."""
    m, k_codes, iters = 4, 16, 2
    subdim = similarity.DIM // m
    quant = _quant(spark, sf_dir)
    old = []
    for s in range(m):
        sliced = quant.select(
            "vec_id", F.slice("_xq", s * subdim + 1, subdim).alias("_xq")
        )
        old.append(similarity.lloyd_int(sliced, k_codes, iters))
    new = similarity.pq_books_int(quant, m, k_codes, iters)
    assert new == old


def test_seed_rows_prefix_property(spark, sf_dir):
    """One fetch of max(k) seed rows serves every consumer: a smaller
    k's seeds are exactly the prefix, and per-subspace seeds are slices
    of the same rows (the ordering ignores coordinates)."""
    quant = _quant(spark, sf_dir)
    s16 = similarity.seed_rows(quant, 16)
    s8 = similarity.seed_rows(quant, 8)
    assert s8 == s16[:8]
    subdim = similarity.DIM // 4
    sliced = quant.select(
        "vec_id", F.slice("_xq", subdim + 1, subdim).alias("_xq")
    )
    assert similarity.seed_rows(sliced, 16) == [
        r[subdim: 2 * subdim] for r in s16
    ]


def test_int_assign_sql_matches_column_form(spark, sf_dir):
    """The single-parse SQL assignment is value-identical to the
    Column-API argmin, including ties (array_position first-match)."""
    quant = _quant(spark, sf_dir)
    cents = similarity.seed_rows(quant, 8)
    old = quant.select("vec_id", int_assign_col(cents).alias("c"))
    new = quant.select(
        "vec_id", F.expr(similarity.int_assign_sql(cents)).alias("c")
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_lloyd_int_seeds_param_is_identity(spark, sf_dir):
    """lloyd_int(seeds=pre-fetched) == lloyd_int fetching its own."""
    quant = _quant(spark, sf_dir)
    seeds = similarity.seed_rows(quant, 8)
    assert similarity.lloyd_int(quant, 8, 2) == similarity.lloyd_int(
        quant, 8, 2, seeds=seeds
    )
    # a larger shared fetch truncates to the first n_clusters rows
    seeds16 = similarity.seed_rows(quant, 16)
    assert similarity.lloyd_int(
        quant, 8, 2, seeds=seeds16
    ) == similarity.lloyd_int(quant, 8, 2)


def _synthetic(spark, n: int, dim: int):
    """n seeded N(0,1) dim-dimensional vectors (PCG64 — bit-reproducible)
    as a (vec_id, embedding array<float>) frame."""
    import numpy as np

    rng = np.random.default_rng(7 + dim)
    V = rng.standard_normal((n, dim)).astype(np.float32)
    return spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )


@pytest.mark.parametrize("dim,m", [(32, 4), (128, 4), (32, 3)])
def test_pq_dimension_comes_from_the_data(spark, tmp_path, dim, m):
    """PQ codebooks cover dim // m coordinates of the vectors actually
    passed (not the 64-dim fixture constant; trailing coordinates of a
    dim that m does not divide belong to no subspace), inline and at
    rest, and a full-shortlist probe re-ranks the whole corpus exactly:
    it returns topk_bruteforce's ids and scores."""
    n = 100
    emb = _synthetic(spark, n, dim)
    quant = similarity.quantized_vectors(emb, unit=True)
    books = similarity.pq_books_int(quant, m, 8, 1)
    assert len(books) == m
    assert all(len(cw) == dim // m for book in books for cw in book)
    path = str(tmp_path / "pq")
    assert similarity.write_pq_index(emb, path, m=m, k_codes=8, iters=1) \
        == books
    # the stored codes span all m subspaces of the data
    assert all(
        len(r["_codes"]) == m
        for r in spark.read.parquet(path).select("_codes").collect()
    )
    brute = [
        (r.vec_id, r.score)
        for r in similarity.topk_bruteforce(emb, 5, k=10).collect()
    ]
    inline = [
        (r.vec_id, r.score)
        for r in similarity.pq_topk_exact(
            emb, 5, k=10, shortlist=n, m=m, k_codes=8, iters=1
        ).collect()
    ]
    qv = [float(x) for x in emb.filter("vec_id = 5").first()["embedding"]]
    pruned = [
        (r.vec_id, r.score)
        for r in similarity.pq_topk_pruned(
            spark, path, books, qv, k=11, shortlist=n
        ).collect()
    ]
    assert len(brute) == 10
    assert inline == brute
    assert pruned[0][0] == 5 and pruned[1:] == brute


def test_lsh_buckets_match_exact_rational_signs(spark, sf_dir):
    """`sim_lsh_topk` (graded) and the oracle both evaluate the float
    left-to-right projection fold. Pin that no fixture vector sits close
    enough to a hyperplane for float rounding to matter: the fold's sign
    equals the EXACT rational sign (plane weights are k/1000 rationals;
    float32 coords convert to Fraction losslessly)."""
    planes = 4
    emb = similarity.nonzero(load(spark, sf_dir, "embeddings"))
    rows = emb.select(
        "vec_id",
        "embedding",
        similarity.lsh_bucket("embedding", planes).alias("_b"),
    ).collect()
    weights = [
        [Fraction(round(w * 1000), 1000) for w in similarity._plane_weights(p)]
        for p in range(planes)
    ]
    for r in rows:
        exact = 0
        for p in range(planes):
            proj = sum(
                Fraction(float(x)) * w
                for x, w in zip(r["embedding"], weights[p])
            )
            if proj > 0:
                exact += 2 ** p
        assert exact == r["_b"], (
            f"vec {r['vec_id']}: float-fold bucket {r['_b']} != exact "
            f"rational bucket {exact} — a hyperplane sign is within "
            "float rounding, so Spark and the oracle could diverge here"
        )
