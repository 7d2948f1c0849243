"""Adversarial-embeddings differential: the embeddings-family oracle
entries re-checked on pathological vectors — the ZERO vector (cosine is
0/0: an ANSI divide-by-zero on Spark, NaN-with-engine-specific-ordering
on DuckDB), exact duplicates, antipodal pairs, near-duplicates, uniform
± pairs, denormal-magnitude vectors — with the driver-faithful compare.

This net forced the zero-norm exclusion (`similarity.nonzero`) at the
entry of every cosine path and its mirror in the oracles: a zero vector
has no direction, so it participates in no similarity pair (it still
appears as a singleton cluster in semantic dedup, like any unpaired id).
"""

from __future__ import annotations

import duckdb
import pytest

from cassandra_sql_spark.queries import REGISTRY
from cassandra_sql_spark.testing import compare

pytestmark = pytest.mark.slow

DIM = 64


def _vec(*pairs, fill=0.0):
    v = [fill] * DIM
    for i, x in pairs:
        v[i] = x
    return v


ADV_VECS = [
    (1, _vec((0, 1.0)), 0),                  # unit x
    (2, _vec((0, 1.0)), 0),                  # exact duplicate of 1
    (3, _vec((0, -1.0)), 1),                 # antipodal (cos = -1)
    (4, _vec(), 1),                          # ZERO vector
    (5, _vec((0, 0.999), (1, 0.04)), 0),     # near-dup of 1
    (6, _vec((1, 2.0)), 2),                  # orthogonal
    (7, [0.1] * DIM, 2),                     # uniform
    (8, [-0.1] * DIM, 3),                    # negated uniform
    (9, _vec((63, 5.0)), 3),                 # mass in the last dim
    (10, _vec((0, 1e-30)), 4),               # denormal magnitude
]


def _emb_targets():
    import re as _re

    out = []
    others = ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents")
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        o = q.oracle.lower()
        # word-boundary: "part" must not match PARTITION etc.
        if _re.search(r"\bembeddings\b", o) and not any(
            _re.search(rf"\b{t}\b", o) for t in others
        ):
            out.append(name)
    return out


@pytest.fixture(scope="module")
def adv_emb_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("advemb"))
    spark.createDataFrame(
        ADV_VECS, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return d


@pytest.fixture(scope="module")
def adv_emb_duck(adv_emb_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{adv_emb_dir}/embeddings.parquet/*.parquet'"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(_emb_targets()))
def test_adversarial_embeddings_match_oracle(
    name, spark, adv_emb_dir, adv_emb_duck
):
    q = REGISTRY[name]
    df = q.fn(spark, adv_emb_dir)
    srows = [tuple(r) for r in df.collect()]
    res = adv_emb_duck.execute(q.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    problems = compare(srows, df.columns, orows, ocols, strict=True)
    assert not problems, f"{name}: {problems}"


def test_rows_only_ann_paths_survive_degenerate_input(spark, adv_emb_dir):
    """The rows-only ANN entries must handle a missing/zero-norm query id
    and a corpus smaller than n_centroids without driver-side errors."""
    out = REGISTRY["sim_ivf_topk"].fn(spark, adv_emb_dir)
    assert out.collect() == []  # query_id=0 absent -> empty, not a crash
    out = REGISTRY["sim_lsh_topk"].fn(spark, adv_emb_dir)
    assert out.collect() == []
    from cassandra_sql_spark.pipeline import similarity

    # corpus smaller than the centroid count trains that many clusters
    tiny = spark.createDataFrame(
        [(1, [1.0] * 64, 0), (2, [0.5] * 64, 0)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    )
    quant = similarity.quantized_vectors(tiny, unit=True)
    cents = similarity.lloyd_int(quant, 8, 3)
    assert 1 <= len(cents) <= 2
    assert len(similarity.pq_books_int(quant, 4, 16, 2)[0]) <= 2
    out = similarity.topk_ivfpq_exact(tiny, query_id=1, k=5)
    assert [r.vec_id for r in out.collect()] == [2]
