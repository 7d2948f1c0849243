"""IVF-PQ composite index on the exact-integer models: the probe returns
the inline topk_ivfpq_exact rows for the same model, and both prunings
are visible in its plan — partition (directory) pruning from the coarse
quantizer AND column pruning down to the codes column for the ADC
stage."""

from __future__ import annotations

import pytest

from cassandra_sql_spark.io import load
from cassandra_sql_spark.pipeline import similarity


@pytest.fixture(scope="module")
def ivfpq(spark, sf_dir, tmp_path_factory):
    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    cents, books = similarity.write_ivfpq_index(
        emb, path, n_centroids=8, m=4, k_codes=16
    )
    return emb, path, cents, books


def test_ivfpq_probe_prunes_partitions_and_columns(spark, ivfpq):
    emb, path, cents, books = ivfpq
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    # the query row is in the index: it takes one shortlist slot and
    # ranks first (cosine 1), so ask for one more of each
    out = similarity.topk_ivfpq_pruned(
        spark, path, cents, books, qv, k=11, nprobe=2, shortlist=41
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # directory pruning: the coarse-centroid IN-list reaches the scan as
    # a PartitionFilter (not a post-scan Filter)
    assert "PartitionFilters: [" in plan
    assert "_cid" in plan.split("PartitionFilters:", 1)[1][:200], plan
    # column pruning: the ADC stage's scan reads codes, never the vector
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert any(
        "_codes" in ln and "embedding" not in ln for ln in scans
    ), plan
    got = [(r["vec_id"], r["score"]) for r in out.collect()]
    assert got[0] == (0, 1.0)
    # same model (the writer's iters drives both trainings) and same
    # parameters -> exactly the inline, oracle-checked rows
    inline = [
        (r["vec_id"], r["score"])
        for r in similarity.topk_ivfpq_exact(
            emb, 0, k=10, n_centroids=8, nprobe=2, shortlist=40, m=4,
            k_codes=16, iters_coarse=2, iters_pq=2,
        ).collect()
    ]
    assert len(inline) == 10
    assert got[1:] == inline


def test_ivfpq_runtime_reads_subset_of_partitions(spark, ivfpq):
    emb, path, cents, books = ivfpq
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    # nprobe=1 must read strictly fewer files than the full index
    import glob

    n_parts = len(glob.glob(f"{path}/_cid=*"))
    assert n_parts >= 4  # coarse quantizer actually spread the data
    one = similarity.topk_ivfpq_pruned(
        spark, path, cents, books, qv, k=5, nprobe=1, shortlist=20
    )
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


@pytest.mark.slow
def test_ivfpq_models_are_deterministic(spark, sf_dir, ivfpq, tmp_path):
    emb, _, cents, books = ivfpq
    path2 = str(tmp_path / "idx2")
    cents2, books2 = similarity.write_ivfpq_index(
        emb, path2, n_centroids=8, m=4, k_codes=16
    )
    assert cents2 == cents and books2 == books


def test_ivfpq_recall_within_probed_lists(spark, ivfpq):
    """Probing every list with an unbounded shortlist re-ranks the whole
    corpus exactly: the approximation is only WHICH lists and shortlist
    rows are read, the re-rank inside them is exact — so the probe
    returns the query itself (cosine 1) and then brute force's rows."""
    emb, path, cents, books = ivfpq
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    got = [
        (r["vec_id"], r["score"])
        for r in similarity.topk_ivfpq_pruned(
            spark, path, cents, books, qv, k=5, nprobe=8, shortlist=10**6
        ).collect()
    ]
    exact = [
        (r["vec_id"], r["score"])
        for r in similarity.topk_bruteforce(emb, 0, k=4).collect()
    ]
    assert got == [(0, 1.0)] + exact


@pytest.mark.slow
def test_production_path_recall_at_sf01(spark, tmp_path):
    """Recall@10 of the shipped ANN paths (hyperplane LSH, the
    exact-integer IVF and the pruned IVF-PQ index) vs exact brute force
    at sf0.1 (2,000 x 64-dim — 10x the test fixtures). The synthetic corpus is
    near-uniform on the sphere (the hard case for ANN), so absolute
    recall is modest by construction; what must hold:

    - every path beats the scan-fraction baseline (probing a random
      f of the corpus gives recall ~= f) by a clear factor,
    - the recall/cost knobs are monotone (multiprobe, nprobe),
    - measured floors hold (deterministic planes/k-means; the floors
      carry margin only for arithmetic-environment drift).

    Measured on first pin (2026-08-15, float IVF): lsh mp0 0.188, lsh
    mp2 0.400, ivf np4 0.563. Integer IVF / IVF-PQ with the cosine
    truth set (2026-10-17): ivf np4 0.575, np8 0.8875; ivfpq np4 0.5125,
    np8 0.825."""
    import numpy as np

    from cassandra_sql_spark.io import load as _load

    sf = "/root/testdata/sf0.1"
    emb = _load(spark, sf, "embeddings")
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    k = 10
    qids = [0, 123, 456, 789, 1011, 1300, 1650, 1999]

    def exact_topk(qid):
        qi = int(np.where(ids == qid)[0][0])
        cos = (V @ V[qi]) / (
            np.maximum(norms, 1e-30) * max(norms[qi], 1e-30)
        )
        cos[norms == 0] = -2.0
        cos[qi] = -2.0
        order = np.lexsort((ids, -cos))
        return set(ids[order][:k].tolist())

    def avg_recall(fn):
        recs = [
            len({r.vec_id for r in fn(q).collect()} & exact_topk(q)) / k
            for q in qids
        ]
        return sum(recs) / len(recs)

    lsh0 = avg_recall(lambda q: similarity.topk_lsh(emb, q, k=k, planes=4))
    lsh2 = avg_recall(
        lambda q: similarity.topk_lsh(emb, q, k=k, planes=4, multiprobe=2)
    )
    ivf4 = avg_recall(
        lambda q: similarity.topk_ivf_exact(
            emb, q, k=k, n_centroids=16, nprobe=4
        )
    )
    ivf8 = avg_recall(
        lambda q: similarity.topk_ivf_exact(
            emb, q, k=k, n_centroids=16, nprobe=8
        )
    )

    # third curve variant (r11 verdict #6): IVF+PQ COMPOSED — coarse
    # pruning x PQ-ADC shortlist, exact cosine re-rank, so its truth set
    # is the exact cosine top-k; the probe returns the query itself
    # (cosine 1), so ask for k+1 and drop it.
    path = str(tmp_path / "ivfpq_idx")
    cents, books = similarity.write_ivfpq_index(
        emb, path, n_centroids=16, m=8, k_codes=16
    )
    vrow = {int(r.vec_id): [float(x) for x in r.embedding] for r in rows}

    def pq_recall(nprobe):
        recs = []
        for q in qids:
            out = similarity.topk_ivfpq_pruned(
                spark, path, cents, books, vrow[q], k=k + 1,
                nprobe=nprobe, shortlist=400,
            ).collect()
            got = [r.vec_id for r in out if r.vec_id != q][:k]
            recs.append(len(set(got) & exact_topk(q)) / k)
        return sum(recs) / len(recs)

    pq4, pq8 = pq_recall(4), pq_recall(8)
    print(f"sf0.1 recall@10: lsh0={lsh0} lsh2={lsh2} ivf4={ivf4} "
          f"ivf8={ivf8} ivfpq4={pq4} ivfpq8={pq8}")

    # scan-fraction baselines: 1/16 buckets, 3/16 buckets, 4/16 lists
    assert lsh0 >= 2.0 * (1 / 16), lsh0
    assert lsh2 >= 1.5 * (3 / 16), lsh2
    assert ivf4 >= 1.5 * (4 / 16), ivf4
    assert pq4 >= 1.5 * (4 / 16), pq4
    # knobs are monotone in expectation
    assert lsh2 >= lsh0, (lsh0, lsh2)
    assert ivf8 >= ivf4, (ivf4, ivf8)
    assert pq8 >= pq4, (pq4, pq8)
    # measured floors (deterministic models; margin for float drift).
    # IVFPQ first pin 2026-08-16 (m=8, k_codes=16, shortlist=400):
    # pq4 0.5625 (= the ivf4 exact-rerank ceiling — at 2k vectors the
    # 400-shortlist nearly exhausts the 500 probed candidates), pq8
    # 0.725 (vs ivf8 0.775: the visible shortlist cost). m=4's 16-dim
    # subspaces with 16 codewords were ADC-noise-dominated on this
    # gaussian corpus (0.35/0.33, non-monotone) — the m knob is the
    # resolution lever, exactly as in FAISS practice. Those were float
    # models against an L2 truth set; the integer index re-ranks by
    # cosine and measured pq4 0.5125, pq8 0.825 (2026-10-17).
    assert lsh0 >= 0.12, lsh0
    assert lsh2 >= 0.30, lsh2
    assert ivf4 >= 0.45, ivf4
    assert pq4 >= 0.48, pq4
    assert pq8 >= 0.62, pq8


@pytest.mark.slow
def test_production_path_recall_at_sf1_scale(spark, tmp_path):
    """The sf0.1 recall point, repeated at sf1 SCALE (20,000 x 64-dim)
    where LSH bucket occupancy is realistic (~1,250 rows/bucket at 4
    planes) — a recall CURVE, not a point (r9 verdict task #7). The
    driver's sf1 fixture is 10 identical copies of sf0.1 (key-offset
    clones), which makes ANN recall trivially high (duplicates share
    buckets by construction), so the corpus here is synthesized:
    20k deterministic N(0,1) 64-dim vectors (seeded PCG64 —
    bit-reproducible across platforms), near-uniform on the sphere,
    the hard case for ANN. What must hold: every knob setting beats
    its scan-fraction baseline by a clear factor, knobs are monotone,
    and the measured floors reproduce (margin for float drift only).
    Measured on first pin (2026-08-16) in SCALE.md §10."""
    import numpy as np

    rng = np.random.default_rng(421)
    n, dim = 20_000, 64
    V = rng.standard_normal((n, dim)).astype(np.float32).astype(np.float64)
    ids = np.arange(n)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in V[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    ).repartition(8).cache()
    emb.count()
    norms = np.linalg.norm(V, axis=1)
    k = 10
    qids = [0, 1234, 4567, 7890, 10111, 13000, 16500, 19999]

    def exact_topk(qid):
        qi = int(qid)
        cos = (V @ V[qi]) / (norms * norms[qi])
        cos[qi] = -2.0
        order = np.lexsort((ids, -cos))
        return set(ids[order][:k].tolist())

    def avg_recall(fn):
        recs = [
            len({r.vec_id for r in fn(q).collect()} & exact_topk(q)) / k
            for q in qids
        ]
        return sum(recs) / len(recs)

    lsh0 = avg_recall(lambda q: similarity.topk_lsh(emb, q, k=k, planes=4))
    lsh2 = avg_recall(
        lambda q: similarity.topk_lsh(emb, q, k=k, planes=4, multiprobe=2)
    )
    ivf4 = avg_recall(
        lambda q: similarity.topk_ivf_exact(
            emb, q, k=k, n_centroids=16, nprobe=4
        )
    )
    ivf8 = avg_recall(
        lambda q: similarity.topk_ivf_exact(
            emb, q, k=k, n_centroids=16, nprobe=8
        )
    )

    # third curve variant (r11 verdict #6): IVF+PQ composed at 20k scale
    # — same cosine truth-set protocol as the sf0.1 point
    path = str(tmp_path / "ivfpq_idx")
    cents, books = similarity.write_ivfpq_index(
        emb, path, n_centroids=16, m=8, k_codes=16
    )

    def pq_recall(nprobe):
        recs = []
        for q in qids:
            out = similarity.topk_ivfpq_pruned(
                spark, path, cents, books, [float(x) for x in V[q]],
                k=k + 1, nprobe=nprobe, shortlist=400,
            ).collect()
            got = [r.vec_id for r in out if r.vec_id != q][:k]
            recs.append(len(set(got) & exact_topk(q)) / k)
        return sum(recs) / len(recs)

    pq4, pq8 = pq_recall(4), pq_recall(8)
    emb.unpersist()
    print(f"sf1-scale recall@10: lsh0={lsh0} lsh2={lsh2} "
          f"ivf4={ivf4} ivf8={ivf8} ivfpq4={pq4} ivfpq8={pq8}")
    # scan-fraction baselines. The honest sf1-scale finding (SCALE.md
    # §10): hyperplane-LSH recall-per-probe DEGRADES at 10x corpus
    # (4-plane single-bucket beats its 1/16 baseline by only ~1.6x,
    # down from ~3x at sf0.1) while IVF holds its recall exactly
    # (k-means lists adapt to the data; random hyperplanes do not) —
    # so the factors below are the measured truth, not aspirations.
    assert lsh0 >= 1.4 * (1 / 16), lsh0
    assert lsh2 >= 1.2 * (3 / 16), lsh2
    assert ivf4 >= 1.5 * (4 / 16), ivf4
    # the composed path reads 400/5000 = 8% of the probed candidates'
    # vectors: its honest baseline is the random-shortlist strategy
    # (P(list probed) x shortlist fraction ~= 0.56 * 0.08 = 0.045),
    # which the ADC beats ~8x — not the exact-rerank row fraction
    assert pq4 >= 4.0 * 0.045, pq4
    # knob monotonicity
    assert lsh2 >= lsh0, (lsh0, lsh2)
    assert ivf8 >= ivf4, (ivf4, ivf8)
    assert pq8 >= pq4, (pq4, pq8)
    # measured floors (deterministic seeded corpus + models; margin
    # for arithmetic-environment drift only). First pin 2026-08-16:
    # lsh0 0.100, lsh2 0.2625, ivf4 0.5625, ivf8 0.800. IVFPQ pin
    # 2026-08-16 (m=8, k_codes=16, shortlist=400): pq4 0.3875, pq8
    # 0.400 — at 20k the shortlist is 8% of probed rows, so the
    # composed path trades ~0.17 recall vs exact-rerank IVF for
    # reading 8% of the vector bytes: the production ANN tradeoff,
    # measured rather than asserted. Integer models, cosine truth set
    # (2026-10-17): ivf4 0.575, ivf8 0.800, pq4 0.4125, pq8 0.5125.
    assert lsh0 >= 0.08, lsh0
    assert lsh2 >= 0.21, lsh2
    assert ivf4 >= 0.48, ivf4
    assert ivf8 >= 0.70, ivf8
    assert pq4 >= 0.30, pq4
    assert pq8 >= 0.32, pq8
